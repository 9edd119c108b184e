"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its arguments: the same seed gives
byte-identical tables, a different seed gives different ones. The program
under test only ever sees the tables these functions write; the
construction tags (population, content key, group) stay on the benchmark
side and drive the correctness checks.

The generators are the benchmark's own, not ``quarrycore_spark.sources``,
so a change to the program's synthetic corpus cannot change what the
benchmark measures.
"""

from __future__ import annotations

import datetime as dt
import random
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def _make_vocab(n: int) -> list[str]:
    # fixed (not seeded): the vocabulary is part of the workload definition
    rng = random.Random(0)
    cons, vows = "bcdfghjklmnprstvwz", "aeiou"
    words: set[str] = set()
    while len(words) < n:
        words.add("".join(rng.choice(cons) + rng.choice(vows) for _ in range(rng.randrange(2, 4))))
    return sorted(words)


# Large vocabulary for crawl pages: unrelated pages share few 7-char
# shingles, so pair and gram buckets hold real duplicates, not noise.
VOCAB = _make_vocab(1500)
# The registry tables use a short technical vocabulary, like the documents
# table of the shipped test data.
DOC_VOCAB = (
    "key agg row scan slow fast table value part hash a merge batch spark the "
    "line sort window order data column join small customer query big stream "
    "group filter vector dup"
).split()

PAGES_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)

_HTML = (
    "<html><head><title>{title}</title>"
    "<script>var x = {salt}; track(x);</script>"
    "<style>.c{{color:red}}</style></head>"
    "<body><!-- comment {salt} --><nav>home about contact</nav>"
    "<h1>{title}</h1><p>{body}</p>"
    "<footer>copyright example</footer></body></html>"
)


@dataclass
class Page:
    url: str
    warc_ts: dt.datetime
    html: bytes
    text: str  # ground-truth extraction output: title + body
    lang: str
    population: str
    content_key: int  # pages with equal canonical content share it
    group: int  # planted pair/family id (-1 = none)


def _html(title: str, body: str, salt: int, variant: int) -> bytes:
    h = _HTML.format(title=title, body=body, salt=salt)
    if variant == 1:  # whitespace + entity noise: canonicalization-equal
        h = h.replace("<p>", "<p >\n  ").replace("example", "ex&#97;mple", 1)
    elif variant == 2:  # attribute + comment noise
        h = h.replace("<body>", '<body class="x"><!-- mirror -->')
    return h.encode("utf-8")


class _Emitter:
    """Accumulates pages in arrival order with strictly increasing
    timestamps, so the arrival order (warc_ts, url) is the emit order."""

    def __init__(self, rng: random.Random, host_prefix: str, t0: dt.datetime):
        self.rng = rng
        self.host_prefix = host_prefix
        self.t0 = t0
        self.step = 0
        self.pages: list[Page] = []
        self.next_key = 0
        self.next_group = 0

    def words(self, n: int) -> list[str]:
        return [self.rng.choice(VOCAB) for _ in range(n)]

    def key(self) -> int:
        self.next_key += 1
        return self.next_key

    def group(self) -> int:
        self.next_group += 1
        return self.next_group

    def emit(self, title, body, population, key, group=-1, variant=0):
        i = len(self.pages)
        self.step += self.rng.randrange(1, 120)
        host = f"{self.host_prefix}{self.rng.randrange(40):02d}.example.org"
        self.pages.append(
            Page(
                url=f"https://{host}/{population}/{i}",
                warc_ts=self.t0 + dt.timedelta(seconds=self.step),
                html=_html(title, body, salt=self.rng.randrange(1 << 30), variant=variant),
                text=f"{title} {body}",
                lang="en" if self.rng.random() < 0.9 else self.rng.choice(["de", "fr", "es"]),
                population=population,
                content_key=key,
                group=group,
            )
        )

    def unique(self, lo=60, hi=300):
        self.emit(" ".join(self.words(3)), " ".join(self.words(self.rng.randrange(lo, hi))), "unique", self.key())

    def mirrors(self, copies: int, lo=60, hi=300):
        """One content served under `copies` urls; some copies differ only
        in markup that canonicalization removes."""
        title, body = " ".join(self.words(3)), " ".join(self.words(self.rng.randrange(lo, hi)))
        k, g = self.key(), self.group()
        for c in range(copies):
            self.emit(title, body, "mirror", k, g, variant=c % 3)

    def near_family(self, size: int, lo=150, hi=300):
        """A base page plus size-1 variants with 1-4% word substitutions."""
        base = self.words(self.rng.randrange(lo, hi))
        title, g = " ".join(self.words(3)), self.group()
        self.emit(title, " ".join(base), "near", self.key(), g)
        for _ in range(size - 1):
            var = list(base)
            for _ in range(max(1, int(len(var) * self.rng.uniform(0.01, 0.04)))):
                var[self.rng.randrange(len(var))] = self.rng.choice(VOCAB)
            self.emit(title, " ".join(var), "near", self.key(), g)

    def borderline(self, lo=150, hi=300):
        """Planted negative: 25-40% of words substituted, far below the
        0.85 Jaccard threshold. The pair must never share a cluster."""
        base = self.words(self.rng.randrange(lo, hi))
        g = self.group()
        self.emit(" ".join(self.words(3)), " ".join(base), "borderline", self.key(), g)
        var = list(base)
        for _ in range(int(len(var) * self.rng.uniform(0.25, 0.40))):
            var[self.rng.randrange(len(var))] = self.rng.choice(VOCAB)
        self.emit(" ".join(self.words(3)), " ".join(var), "borderline", self.key(), g)

    def containment(self, lo=100, hi=200):
        """B = A + 50-150% extra words: a substring relation, not a dup."""
        base = self.words(self.rng.randrange(lo, hi))
        g = self.group()
        self.emit(" ".join(self.words(3)), " ".join(base), "contain", self.key(), g)
        extra = self.words(int(len(base) * self.rng.uniform(0.5, 1.5)))
        self.emit(" ".join(self.words(3)), " ".join(base + extra), "contain", self.key(), g)


# Population mixes, as cumulative shares of draws.
CRAWL_MIXES = {
    # mostly unique pages: kernels dominate, the dup graph stays tiny
    "unique": (("unique", 0.82), ("mirror", 0.87), ("near", 0.92), ("borderline", 0.96), ("contain", 1.0)),
    # mirror groups, near-dup families, containment pairs, borderline negatives
    "dupheavy": (("mirror", 0.80), ("near", 0.90), ("borderline", 0.95), ("contain", 1.0)),
}


def crawl_pages(mix: str, n: int, seed: int, mirror_copies: tuple[int, int] = (2, 4), family: tuple[int, int] = (2, 3)) -> list[Page]:
    """n pages of the named population mix, in arrival order."""
    rng = random.Random(f"crawl-{mix}-{seed}")
    b = _Emitter(rng, "site", dt.datetime(2024, 1, 1))
    shares = CRAWL_MIXES[mix]
    while len(b.pages) < n:
        r = rng.random()
        pop = next(p for p, cum in shares if r < cum)
        if pop == "unique":
            b.unique()
        elif pop == "mirror":
            b.mirrors(rng.randrange(mirror_copies[0], mirror_copies[1] + 1))
        elif pop == "near":
            b.near_family(rng.randrange(family[0], family[1] + 1))
        elif pop == "borderline":
            b.borderline()
        else:
            b.containment()
    return b.pages[:n]


def stream_epochs(epochs: int, per_epoch: int, seed: int, tag: str = "stream", recrawl: float = 0.2, inner_dup: float = 0.1) -> list[list[Page]]:
    """Micro-batches of pages. Each epoch mixes fresh pages, re-crawls of
    content first seen in an EARLIER epoch (new url, later timestamp) and
    within-epoch exact copies."""
    rng = random.Random(f"{tag}-{seed}")
    b = _Emitter(rng, "feed", dt.datetime(2024, 6, 1))
    seen: list[Page] = []
    out = []
    for _ in range(epochs):
        start = len(b.pages)
        while len(b.pages) - start < per_epoch:
            r = rng.random()
            if r < recrawl and seen:
                src = rng.choice(seen)
                title, body = src.text.split(" ", 3)[:3], src.text.split(" ", 3)[3]
                b.emit(" ".join(title), body, "recrawl", src.content_key)
            elif r < recrawl + inner_dup and len(b.pages) > start:
                src = b.pages[rng.randrange(start, len(b.pages))]
                title, body = src.text.split(" ", 3)[:3], src.text.split(" ", 3)[3]
                b.emit(" ".join(title), body, "repeat", src.content_key, variant=1)
            else:
                b.unique(40, 160)
        batch = b.pages[start:]
        seen.extend(p for p in batch if p.population == "unique")
        out.append(batch)
    return out


def pages_table(pages: list[Page]) -> pa.Table:
    return pa.table(
        {
            "url": [p.url for p in pages],
            "warc_ts": [p.warc_ts for p in pages],
            "html": [p.html for p in pages],
            "text": [p.text for p in pages],
            "lang": [p.lang for p in pages],
        },
        schema=PAGES_SCHEMA,
    )


def write_pages(pages: list[Page], path: str) -> None:
    pq.write_table(pages_table(pages), path)


# ---------------------------------------------------------------------------
# registry tables (documents + embeddings, the schema of the shipped sf data)
# ---------------------------------------------------------------------------

DOCUMENTS_SCHEMA = pa.schema(
    [("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()), ("source", pa.string()), ("n_chars", pa.int64())]
)
EMBEDDINGS_SCHEMA = pa.schema(
    [("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())), ("label", pa.int32())]
)


def registry_tables(n_docs: int, n_vecs: int, seed: int, dim: int = 64, labels: int = 10) -> tuple[pa.Table, pa.Table]:
    """documents and embeddings tables with planted pairs: near-copies
    (a few words changed), containment slices and exact copies among the
    documents; tight clusters and near-duplicate vectors among the
    embeddings."""
    rng = random.Random(f"registry-{seed}")
    texts: list[str] = []
    while len(texts) < n_docs:
        r = rng.random()
        if r < 0.06 and texts:  # near copy: a few words replaced
            w = rng.choice(texts).split()
            for _ in range(max(1, len(w) // 40)):
                w[rng.randrange(len(w))] = rng.choice(DOC_VOCAB)
            texts.append(" ".join(w))
        elif r < 0.09 and texts:  # containment: a long slice of an earlier doc
            w = rng.choice(texts).split()
            cut = max(8, int(len(w) * 0.7))
            texts.append(" ".join(w[:cut]))
        elif r < 0.11 and texts:  # exact copy
            texts.append(rng.choice(texts))
        else:
            texts.append(" ".join(rng.choice(DOC_VOCAB) for _ in range(rng.randrange(10, 100))))
    langs = ["en", "de", "es", "fr", "zh"]
    documents = pa.table(
        {
            "doc_id": list(range(n_docs)),
            "text": texts,
            "lang": [rng.choice(langs) for _ in texts],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": [len(t) for t in texts],
        },
        schema=DOCUMENTS_SCHEMA,
    )
    nrng = np.random.default_rng([seed, 7])
    centers = nrng.normal(size=(labels, dim))
    lab = nrng.integers(0, labels, size=n_vecs)
    vecs = centers[lab] + 0.6 * nrng.normal(size=(n_vecs, dim))
    dup = nrng.random(n_vecs) < 0.08  # near-duplicate of the previous vector
    for i in np.flatnonzero(dup):
        if i > 0:
            vecs[i] = vecs[i - 1] + 0.01 * nrng.normal(size=dim)
            lab[i] = lab[i - 1]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    embeddings = pa.table(
        {
            "vec_id": np.arange(n_vecs, dtype=np.int64),
            "embedding": [v.astype(np.float32) for v in vecs],
            "label": lab.astype(np.int32),
        },
        schema=EMBEDDINGS_SCHEMA,
    )
    return documents, embeddings
