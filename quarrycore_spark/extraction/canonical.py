"""HTML canonicalization + cascade main-content extraction.

From-scratch reimplementation of the semantics of the reference's
CanonicalHTMLProcessor (src/quarrycore/dedup/canonical.py:50-172) and its
extraction cascade (src/quarrycore/extractor/manager.py:119-237 with the
trafilatura/readability/soup tiers): decode bytes utf-8 errors='replace'
(the exact rule at pipeline.py:638), drop script/style/comment subtrees,
strip tags, unescape entities, collapse whitespace, trim. The container
image has none of the reference's C-backed HTML libs (selectolax, bs4,
trafilatura), so the regex fallback path — which the reference itself
ships for exactly this situation (canonical.py:127-153) — is the
implementation, written fresh.

These are pure deterministic functions (golden-fixture testable without
Spark) wrapped in Arrow-batched UDFs for the pipeline.
"""

from __future__ import annotations

import html as _html
import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from quarrycore_spark.operators._kernel_log import kernel_span

_SCRIPT = re.compile(r"<script\b[^>]*>.*?</script\s*>", re.I | re.S)
_STYLE = re.compile(r"<style\b[^>]*>.*?</style\s*>", re.I | re.S)
_COMMENT = re.compile(r"<!--.*?-->", re.S)
# chrome removed with content by the extraction tier (not by canonicalize):
_CHROME = re.compile(
    r"<(nav|header|footer|aside|noscript|form|button|select|textarea"
    r"|template|svg)\b[^>]*>.*?</\1\s*>",
    re.I | re.S,
)
_TITLE = re.compile(r"<title\b[^>]*>(.*?)</title\s*>", re.I | re.S)
_HEAD = re.compile(r"<head\b[^>]*>.*?</head\s*>", re.I | re.S)
_TAG = re.compile(r"<[^>]+>")
_WS = re.compile(r"\s+", re.ASCII)


def split_is_ws_safe(s: str) -> bool:
    r"""True when `" ".join(s.split())` equals `_WS.sub(" ", s).strip()`:
    s is ASCII and holds none of \x1c-\x1f. Those four are the only ASCII
    characters str.split treats as whitespace and re.ASCII \s does not."""
    return s.isascii() and not (
        "\x1c" in s or "\x1d" in s or "\x1e" in s or "\x1f" in s
    )


def _collapse_ws(s: str) -> str:
    r"""`_WS.sub(" ", s).strip()`, with the ASCII fast path: where
    split_is_ws_safe holds, `" ".join(s.split())` is byte-identical and
    ~10x faster — this was the single most expensive regex pass of the
    extraction cascade (41 us/doc, run 2-3x per page). Other strings keep
    the regex path: str.split would additionally split on unicode
    whitespace (e.g. nbsp) and on \x1c-\x1f, which the pinned Java-\s
    contract must not."""
    if split_is_ws_safe(s):
        return " ".join(s.split())
    return _WS.sub(" ", s).strip()


def decode_html(raw: bytes) -> str:
    """The reference's exact decode rule (pipeline.py:638)."""
    return raw.decode("utf-8", errors="replace")


def _strip_ssc(s: str) -> str:
    """Drop script/style subtrees and comments — the shared first pass of
    canonicalization and every extraction tier. The cascade computes it
    ONCE per page (cascade_extract) instead of once per tier: these are
    the three full-page regex passes, so sharing them cuts the per-doc
    regex work ~2-3× without changing any tier's output."""
    s = _SCRIPT.sub(" ", s)
    s = _STYLE.sub(" ", s)
    return _COMMENT.sub(" ", s)


def canonicalize_html(raw: bytes | str, _pre_stripped: str | None = None) -> str:
    """Canonical text for exact-dup hashing: equivalent HTML (whitespace
    runs, comments, script/style, entity encodings) must map to equal
    output (reference test_canonical_html.py invariants, incl. idempotency)."""
    if _pre_stripped is None:
        s = raw if isinstance(raw, str) else decode_html(raw)
        s = _strip_ssc(s)
    else:
        s = _pre_stripped
    s = _TAG.sub(" ", s)
    s = _html.unescape(s)
    return _collapse_ws(s)


def extract_title(raw: bytes | str) -> str | None:
    s = raw if isinstance(raw, str) else decode_html(raw)
    m = _TITLE.search(s)
    if not m:
        return None
    t = _collapse_ws(_html.unescape(_TAG.sub(" ", m.group(1))))
    return t or None


def extract_main_text(raw: bytes | str, _pre_stripped: str | None = None) -> str:
    """Main-content extraction: chrome subtrees (nav/header/footer/aside/
    noscript/form/button) removed with their content — the soup-tier
    selector semantics (soup_extractor.py:94-176; form/button is the
    trafilatura-default interactive-control exclusion) — plus head
    (title goes to its own column)."""
    if _pre_stripped is None:
        s = raw if isinstance(raw, str) else decode_html(raw)
        s = _strip_ssc(s)
    else:
        s = _pre_stripped
    s = _HEAD.sub(" ", s)
    prev = None
    while prev != s:  # nested chrome elements
        prev = s
        s = _CHROME.sub(" ", s)
    s = _TAG.sub(" ", s)
    s = _html.unescape(s)
    return _collapse_ws(s)


def extract_body_text(raw: bytes | str, _pre_stripped: str | None = None) -> str:
    """Lenient tier: all body text INCLUDING chrome (nav/header/footer/…) —
    lower precision, never loses content. The fallback when the strict tier
    fails the quality gate (the reference's soup_fallback role in the
    cascade, manager.py:119-237)."""
    if _pre_stripped is None:
        s = raw if isinstance(raw, str) else decode_html(raw)
        s = _strip_ssc(s)
    else:
        s = _pre_stripped
    s = _HEAD.sub(" ", s)
    s = _TAG.sub(" ", s)
    s = _html.unescape(s)
    return _collapse_ws(s)


# Chrome-CLASS tokens inside a declared content region: the regex
# expression of the reference soup extractor's remove_classes list
# (soup_extractor.py:49 — nav/navigation/menu/sidebar/ad/advertisement/
# footer/header) widened with the page furniture real articles embed in
# their content region: share toolbars, related rails, comment threads,
# newsletter prompts, cookie overlays, pagination chrome, breadcrumbs,
# promos. Tokens must match a whole dash/underscore-delimited word so
# content-bearing classes ("post-content", "story") never match.
_CHROME_CLASS_START = re.compile(
    r"<(div|section|ul|ol|form)\b[^>]*\b(?:id|class)\s*=\s*[\"'][^\"']*"
    r"\b(?:ad|ads|advert\w*|nav|navigation|menu|sidebar|side[-_]?bar|share|"
    r"sharing|social|related|comments?|newsletter|cookie\w*|breadcrumbs?|"
    r"pagination|pager|paging|promo\w*|banner|subscribe|toolbar|widget|"
    r"popup|modal|footer|header|masthead|trending|recommend\w*)"
    r"(?:[-_]\w+)?\b[^\"']*[\"'][^>]*>",
    re.I,
)


def _remove_balanced_blocks(s: str, start_pat: re.Pattern) -> str:
    """`s` with every block opened by `start_pat` removed through its
    balanced close tag. `start_pat`'s group 1 must capture the element
    name, so the depth walk pairs only that element's own open/close tags
    (same walk as `_find_balanced_blocks`; unclosed blocks are removed to
    end-of-string)."""
    out = []
    i = 0
    while True:
        m = start_pat.search(s, i)
        if not m:
            out.append(s[i:])
            return "".join(out)
        out.append(s[i : m.start()])
        tagre = re.compile(rf"<(/?){m.group(1)}\b[^>]*>", re.I)
        depth = 1
        j = m.end()
        end = len(s)
        while depth:
            m2 = tagre.search(s, j)
            if not m2:
                break
            depth += -1 if m2.group(1) else 1
            j = m2.end()
            if depth == 0:
                end = j
        i = end


def _find_balanced_blocks(s: str, start_pat: re.Pattern, tagname: str) -> list[str]:
    """Inner HTML of every block opened by `start_pat`, closed by walking
    open/close tags of `tagname` with a depth counter (regex alone cannot
    pair nested same-name tags). Unclosed blocks extend to end-of-string."""
    out = []
    tagre = re.compile(rf"<(/?){tagname}\b[^>]*>", re.I)
    i = 0
    while True:
        m = start_pat.search(s, i)
        if not m:
            return out
        depth = 1
        j = m.end()
        end = len(s)
        while depth:
            m2 = tagre.search(s, j)
            if not m2:
                break
            depth += -1 if m2.group(1) else 1
            j = m2.end()
            if depth == 0:
                end = m2.start()
        out.append(s[m.end() : end])
        i = j


# Link-density pruning inside the selected content region — the regex
# expression of trafilatura's favor_precision element pruning
# (reference trafilatura_extractor.py:83-135 configures favor_precision;
# trafilatura's own algorithm drops subtrees whose text is mostly anchor
# text). A block whose text is >= LINK_DENSITY_MAX anchor-text and whose
# NON-link text is shorter than LINK_KEEP_MIN_CHARS is navigation
# furniture ("related stories" <ul>s, tag clouds, read-more rails) even
# when it carries no chrome class token — the case the class list above
# cannot catch. Long paragraphs with many inline links survive via the
# non-link-length guard.
_LINK_BLOCK_START = re.compile(r"<(ul|ol|div|section|table)\b[^>]*>", re.I)
_ANCHOR_TEXT = re.compile(r"<a\b[^>]*>(.*?)</a\s*>", re.I | re.S)
LINK_DENSITY_MAX = 0.65
LINK_KEEP_MIN_CHARS = 120
# Text-density floor — favor_precision's other half (the chars-per-tag
# block scoring trafilatura applies alongside link density): a block that
# averages fewer than TEXT_DENSITY_MIN_CPT plain chars per markup tag is
# widget furniture (rating grids, icon strips, spec chips) even with zero
# anchors, PROVIDED it is small (< TEXT_DENSITY_KEEP_MIN plain chars —
# real prose in a heavily-marked-up container always clears this) and
# actually marked up (>= TEXT_DENSITY_MIN_TAGS tags — a short bare <div>
# caption is not a widget).
TEXT_DENSITY_MIN_CPT = 8
TEXT_DENSITY_KEEP_MIN = 120
TEXT_DENSITY_MIN_TAGS = 4
# Pruning cost is sum over examined blocks of |block| — nesting makes that
# O(depth × region). Real content regions are well under this; a
# pathological deep-nest page skips the pass (keeps more, loses nothing).
LINK_PRUNE_MAX_REGION = 500_000
# Work budget on the SUM of examined-block lengths: a kept block's
# children are re-examined (scanning resumes past its open tag), so tens
# of thousands of nested divs would otherwise cost O(depth × region)
# even under the region cap. When the cumulative scan exceeds this, the
# pass bails out returning its input unchanged — identical recall
# posture to the region cap (keeps more, loses nothing). ~10 fully
# nested levels of a max-size region; real pages sum to < one region.
LINK_PRUNE_WORK_BUDGET = 10 * LINK_PRUNE_MAX_REGION


def _plain_len(fragment: str) -> int:
    return len(_collapse_ws(_html.unescape(_TAG.sub(" ", fragment))))


def _prune_link_dense(s: str) -> str:
    """`s` with every low-value block removed (balanced-tag walk, same
    machinery as `_remove_balanced_blocks`) — two favor_precision
    predicates in one pass:

    * link density: a block is pruned when its anchor-text share >=
      LINK_DENSITY_MAX and its non-anchor text < LINK_KEEP_MIN_CHARS;
    * text density: a SMALL block (< TEXT_DENSITY_KEEP_MIN plain chars)
      with >= TEXT_DENSITY_MIN_TAGS tags averaging < TEXT_DENSITY_MIN_CPT
      plain chars per tag is pruned even with zero anchors (unclassed
      rating widgets / icon strips the link pass can't see).

    Surviving blocks are then scanned INSIDE (the open tag is skipped, so
    nested furniture inside a kept wrapper is still examined
    independently)."""
    if len(s) > LINK_PRUNE_MAX_REGION:
        return s
    out = []
    i = 0
    work = 0
    while True:
        m = _LINK_BLOCK_START.search(s, i)
        if not m:
            out.append(s[i:])
            return "".join(out)
        tagre = re.compile(rf"<(/?){m.group(1)}\b[^>]*>", re.I)
        depth = 1
        j = m.end()
        end = len(s)
        while depth:
            m2 = tagre.search(s, j)
            if not m2:
                break
            depth += -1 if m2.group(1) else 1
            j = m2.end()
            if depth == 0:
                end = j
        inner = s[m.end() : end]
        work += len(inner) + 1
        if work > LINK_PRUNE_WORK_BUDGET:
            return s  # deep-nest pathology: skip the pass entirely
        total = _plain_len(inner)
        prune = False
        if total:
            link = sum(_plain_len(g) for g in _ANCHOR_TEXT.findall(inner))
            link = min(link, total)  # nested-anchor safety
            prune = (
                link / total >= LINK_DENSITY_MAX
                and total - link < LINK_KEEP_MIN_CHARS
            )
        if not prune and total < TEXT_DENSITY_KEEP_MIN:
            n_tags = len(_TAG.findall(inner))
            prune = n_tags >= TEXT_DENSITY_MIN_TAGS and total < TEXT_DENSITY_MIN_CPT * n_tags
        if prune:
            out.append(s[i : m.start()])
            i = end  # prune: drop the whole block
            continue
        # keep: emit the open tag, keep scanning inside the block
        out.append(s[i : m.end()])
        i = m.end()


# Content-selector priority — the regex expression of the reference
# cascade's CSS-selector targeting (cascade_extractor.py:479-499: main,
# article, [role=main], #content/.content/.post/.entry/.article-body
# before any whole-body fallback).
_SELECTOR_TIERS: tuple[tuple[re.Pattern, str], ...] = (
    (re.compile(r"<main\b[^>]*>", re.I), "main"),
    (re.compile(r"<article\b[^>]*>", re.I), "article"),
    (
        re.compile(
            r"<(?:div|section)\b[^>]*\brole\s*=\s*[\"']?main[\"']?[^>]*>", re.I
        ),
        r"(?:div|section)",
    ),
    (
        re.compile(
            r"<(?:div|section)\b[^>]*\b(?:id|class)\s*=\s*[\"'][^\"']*"
            r"\b(?:content|post|entry|article)(?:[-_]\w+)?\b[^\"']*[\"'][^>]*>",
            re.I,
        ),
        r"(?:div|section)",
    ),
)


def extract_selector_text(raw: bytes | str, _pre_stripped: str | None = None) -> str:
    """Selector tier (highest precision): text of the page's declared
    main-content region only — `<main>`, `<article>`, `[role=main]`, or a
    content-ish id/class — with chrome subtrees inside it still removed,
    both tag-based (nav/header/footer/aside/noscript) and CLASS-based
    (`_CHROME_CLASS_START`: the reference soup extractor's remove_classes
    list widened to share/related/comments/newsletter/cookie/pagination/…).
    Returns "" when the page declares no content region, which makes the
    cascade fall through to the strict tier (a from-scratch regex analogue
    of the reference's trafilatura-tier precision, cascade_extractor.py:479-499)."""
    if _pre_stripped is None:
        s = raw if isinstance(raw, str) else decode_html(raw)
        s = _strip_ssc(s)
    else:
        s = _pre_stripped
    for start_pat, tagname in _SELECTOR_TIERS:
        blocks = _find_balanced_blocks(s, start_pat, tagname)
        if blocks:
            joined = " ".join(blocks)
            prev = None
            while prev != joined:  # nested chrome inside the content region
                prev = joined
                joined = _CHROME.sub(" ", joined)
                joined = _remove_balanced_blocks(joined, _CHROME_CLASS_START)
            # favor_precision link-density pass (unclassed link farms the
            # chrome lists can't see). Recall guard: if pruning empties a
            # region that had text, the region itself was link-dense (a
            # listing page's declared content) — keep the unpruned text
            # rather than falling through to a lower-precision tier.
            pruned = _prune_link_dense(joined)
            if _plain_len(pruned) or not _plain_len(joined):
                joined = pruned
            joined = _TAG.sub(" ", joined)
            joined = _html.unescape(joined)
            return _collapse_ws(joined)
    return ""


# Cascade tiers: selector (precision: declared content region only), strict
# (chrome subtrees removed), lenient (recall: all body text) — the 3-tier
# expression of the reference's trafilatura → readability → soup cascade
# (cascade_order, config.py:363-377) with the same
# accept-first-tier-above-threshold rule.
EXTRACTORS: dict[str, object] = {
    "selector": extract_selector_text,
    "strict": extract_main_text,
    "lenient": extract_body_text,
}
DEFAULT_CASCADE: tuple[str, ...] = ("selector", "strict", "lenient")
# Reference quality_threshold=0.6 (config.py:374) on the integerized scale.
REFERENCE_GATE_SCALED = 60


def resolve_cascade_order(
    url: str | None,
    overrides: dict[str, tuple[str, ...]] | None,
    default_order: tuple[str, ...] = DEFAULT_CASCADE,
) -> tuple[str, ...]:
    """Per-domain cascade override resolution (manager.py:87-117): exact
    domain match first, then suffix match (domain endswith '.override')."""
    if not overrides or not url:
        return default_order
    try:
        from urllib.parse import urlparse

        domain = (urlparse(url).netloc or "").lower()
    except Exception:
        return default_order
    if domain in overrides:
        return tuple(overrides[domain])
    for od, order in overrides.items():
        if domain == od or domain.endswith(f".{od}"):
            return tuple(order)
    return default_order


def cascade_extract(
    raw: bytes | str,
    url: str | None = None,
    lang: str | None = None,
    threshold_scaled: int = 0,
    overrides: dict[str, tuple[str, ...]] | None = None,
    default_order: tuple[str, ...] = DEFAULT_CASCADE,
    _pre_stripped: str | None = None,
) -> tuple[str, str, int, bool]:
    """P6 cascade with quality gating (manager.py:119-237): try extractors
    in per-domain order, skip empty outputs, accept the first whose quality
    >= threshold. Returns (text, extractor_name, quality_scaled, accepted);
    when every tier fails the gate the best (last non-empty) attempt is
    returned with accepted=False — the row-preserving form of the
    reference's `return None` (the caller dead-letters instead of dropping).
    """
    if _pre_stripped is None:
        s = raw if isinstance(raw, str) else decode_html(raw)
        pre = _strip_ssc(s)  # the 3 full-page passes, shared by every tier
    else:
        pre = _pre_stripped
    last: tuple[str, str, int] | None = None
    for name in resolve_cascade_order(url, overrides, default_order):
        text = EXTRACTORS[name](raw, pre)  # type: ignore[operator]
        if not text.strip():
            continue
        q = quality_score_scaled(text, lang)
        if q >= threshold_scaled:
            return text, name, q, True
        last = (text, name, q)
    if last is not None:
        return last[0], last[1], last[2], False
    return "", "", 0, False


def quality_score_scaled(text: str, lang: str | None) -> int:
    """Integerized reference quality formula (assessor.py:70-119 with the
    transformer scorer absent → renormalized over length 0.3 + language 0.4):
    (30·[len>400] + 40·[lang=en]) · 100 / 70, in [0, 100]."""
    len_ok = 1 if len(text) > 400 else 0
    lang_en = 1 if lang == "en" else 0
    return (30 * len_ok + 40 * lang_en) * 100 // 70


EXTRACT_SCHEMA = (
    "url string, warc_ts timestamp, lang string, content_hash string, "
    "extracted_text string, title string, extractor string, "
    "quality_scaled int, extract_error string"
)


def extract_pages(
    pages: DataFrame,
    cascade_threshold: int = 0,
) -> DataFrame:
    """pages(url, warc_ts, html, lang, ...) → extraction columns via the
    gated cascade (P6). The default threshold 0 accepts the first non-empty
    tier (strict wins when it extracts anything); pass
    ``cascade_threshold=REFERENCE_GATE_SCALED`` for the reference's 0.6 gate.

    Per-row failures never kill the job: errors land in `extract_error`
    (dead-letter semantics of the reference's per-stage circuit breaker,
    pipeline.py:858-877) and the row survives with empty text; tier outputs
    that all fail the gate are kept with extract_error='quality_gate'.
    """

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            with kernel_span("ext", len(pdf)):
                hashes, extracted, titles, tiers, quality, errors = [], [], [], [], [], []
                for url, raw, lang in zip(pdf["url"], pdf["html"], pdf["lang"]):
                    try:
                        # decode once, strip script/style/comments once —
                        # the canonicalizer and all three cascade tiers
                        # share the same pre-stripped page (same output,
                        # ~half the full-page regex passes per doc)
                        s = raw if isinstance(raw, str) else decode_html(raw)
                        pre = _strip_ssc(s)
                        c = canonicalize_html(s, _pre_stripped=pre)
                        t, tier, q, accepted = cascade_extract(
                            s, url=url, lang=lang,
                            threshold_scaled=cascade_threshold,
                            _pre_stripped=pre,
                        )
                        ti = extract_title(s)
                        err = None if accepted or not t else "quality_gate"
                    except Exception as e:  # noqa: BLE001 — dead-letter, not crash
                        c, t, ti, tier, q = "", "", None, "", 0
                        err = f"{type(e).__name__}: {e}"
                    # sha256 of canonical text computed HERE so the
                    # canonical text itself (≈ the whole page) never leaves
                    # the stage — downstream frames stay slim (same hex as
                    # F.sha2(..., 256))
                    hashes.append(hashlib.sha256(c.encode("utf-8")).hexdigest())
                    extracted.append(t)
                    titles.append(ti)
                    tiers.append(tier)
                    quality.append(q)
                    errors.append(err)
            yield pd.DataFrame(
                {
                    "url": pdf["url"],
                    "warc_ts": pdf["warc_ts"],
                    "lang": pdf["lang"],
                    "content_hash": hashes,
                    "extracted_text": extracted,
                    "title": titles,
                    "extractor": tiers,
                    "quality_scaled": pd.array(quality, dtype="int32"),
                    "extract_error": errors,
                }
            )

    return pages.mapInPandas(compute, schema=EXTRACT_SCHEMA)
