"""Coverage for metaops queries, the URL-list source (S2), and the
blocked-ANN exactness invariant."""

from __future__ import annotations

from tests.test_oracle_parity import compare_query


def test_metaops_queries_match_oracle(spark):
    for name in (
        "source_dedup_stats",
        "event_props_metadata",
        "stratified_sample",
        "windowed_event_counts",
        "content_metrics",
    ):
        compare_query(spark, name)


def test_read_url_list(spark, tmp_path):
    p = tmp_path / "urls.txt"
    p.write_text(
        "https://a.example/1\n"
        "\n"
        "# comment line\n"
        "  https://b.example/2  \n"
        "https://a.example/1\n"
    )
    from quarrycore_spark.sources.tables import read_url_list

    rows = [r["url"] for r in read_url_list(spark, str(p)).collect()]
    assert rows.count("https://a.example/1") == 2  # source keeps duplicates
    assert "https://b.example/2" in rows  # trimmed
    assert len(rows) == 3  # blanks + comments dropped


def test_embedding_dup_pairs_blocking_invariant(spark, monkeypatch):
    """The block-pair self-join must produce the identical pair set for any
    block count (each unordered pair lands in exactly one group)."""
    from quarrycore_spark.operators import ann
    from quarrycore_spark.sources.tables import load

    emb = load(spark, "/root/testdata/sf0.001", "embeddings")["embeddings"]

    def pairs(floor):
        # a table this small resolves to the block-count floor
        if floor is not None:
            monkeypatch.setattr(ann, "MIN_BLOCKS", floor)
        return sorted(
            (r["a_id"], r["b_id"], r["dot"])
            for r in ann.embedding_dup_pairs(emb).collect()
        )

    # None = the default floor, before any is set
    pauto, p1, p3, p8 = pairs(None), pairs(1), pairs(3), pairs(8)
    assert p1 == p3 == p8 == pauto
    assert len(p1) > 0


def test_lang_id_confidence_floor_and_margin(spark, tmp_path):
    """P8 semantics: a doc mixing single stopwords from many languages stays
    below the vote floor -> 'und'; clear-language docs get a positive
    vote_margin (the reference detector's confidence analogue)."""
    import duckdb

    from quarrycore_spark.plans.registry import REGISTRY

    rows = [
        (1, "the data table is sorted and the key join works in order"),
        (2, "der hund ist nicht mit der katze und das haus für alle auf"),
        # one stopword from each of several languages: no language reaches
        # MIN_LANG_VOTES distinct hits
        (3, "the der el le il og ja bir yang trong"),
        (4, ""),
        # unsegmented-script tier: no spaces at all — the word vote is
        # blind here, the char-gram vote must fire
        (5, "これはテストです。データの表は順番に並んでいて、キーが結合を行った。"),
        (6, "这是一个测试。我们的数据表是按顺序排列的，他们不在这里。"),
        (7, "นี่คือการทดสอบ ตารางข้อมูลของเราเรียงตามลำดับ และไม่ได้อยู่ที่นี่"),
        # kana-free kanji-only fragment: below the ja kana floor by design,
        # must NOT be guessed as ja (falls to zh or und, the honest failure)
        (8, "完全無欠"),
        # ko rides the char-gram tier (agglutinative: particles fuse onto
        # words, so whole-word stopword equality would miss this sentence)
        (9, "데이터 테이블은 순서대로 정렬되어 있습니다 그리고 키가 결합하는 것이 중요합니다"),
        # Cyrillic family: each must out-vote its neighbours (ru/uk/bg)
        (10, "и у току је на се да су за не као што је било"),  # sr
        (11, "і не на у да што як гэта па ад усе было"),  # be
        (12, "и на во не се да од за со дека тоа беше"),  # mk
        (13, "және бұл мен бар үшін деп да бір емес болды"),  # kk
        # ru must still win against the new sr/mk lists
        (14, "и в не на я что с по это как было"),
        # round-7 breadth — one clear-language fixture per new language
        (15, "og að er það sem ekki við hann en um allt"),  # is
        (16, "eta da ez bat du dira baina hau zen ere gaur"),  # eu
        (17, "e que unha non máis polo coa sen como para todo"),  # gl
        (18, "va bu bir uchun bilan ham deb lekin edi emas"),  # uz
        (19, "нь бол байна юм энэ гэж байгаа болон тэр байсан"),  # mn
        (20, "და არის რომ ეს არ იყო მისი ამ თუ ერთი"),  # ka
        (21, "և է որ այս չի մի նա իր այն են"),  # hy
        (22, "کے میں کی ہے اور کا سے کو پر نہیں"),  # ur
        (23, "மற்றும் இது என்று ஒரு உள்ளது இந்த அவர் என மிகவும் ஆனால்"),  # ta
        (24, "మరియు ఒక ఈ అని ఉంది కూడా అతను కానీ లో చాలా"),  # te
        (25, "आणि आहे या त्या होते तो ते एक मध्ये केले"),  # mr
        (26, "અને છે આ તે એક માં કે પણ હતી માટે"),  # gu
        (27, "ಮತ್ತು ಒಂದು ಈ ಎಂದು ಇದೆ ಅವರು ಆದರೆ ಕೂಡ ಹಾಗೂ ಅದು"),  # kn
        (28, "छ र को मा छन् पनि गरेको भएको लागि हो"),  # ne
        (29, "සහ ඇත මෙම බව එක සඳහා විසින් කර නොවේ ඔහු"),  # si
        # unsegmented-script additions (no spaces needed for the vote)
        (30, "ဒေတာဇယားသည်အစဉ်လိုက်စီထားပြီးသော့များကိုတွင်ပေါင်းစပ်ရှိသည်နှင့်အတွက်လုပ်မှာဖြစ်"),  # my
        (31, "នេះនិងជាបាននៅការរបស់ដែលមានពីតារាងទិន្នន័យ"),  # km
        (32, "ແລະທີ່ໃນເປັນການມີບໍ່ໄດ້ຂອງກັບຕາຕະລາງຂໍ້ມູນ"),  # lo
        # hi must still win over the new Devanagari siblings (mr/ne)
        (33, "के में की है और से का को पर यह सब"),  # hi
        # fa/ar must still win over the new ur list
        (34, "و در به از که این را با است برای"),  # fa
    ]
    sf = str(tmp_path)
    spark.createDataFrame(rows, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(f"{sf}/documents.parquet")
    out = {
        r["doc_id"]: (r["lang_guess"], r["vote_margin"])
        for r in REGISTRY["lang_id"].run_spark(spark, sf).collect()
    }
    assert out[1][0] == "en" and out[1][1] > 0
    assert out[2][0] == "de" and out[2][1] > 0
    assert out[3][0] == "und"
    assert out[4][0] == "und"
    assert out[5][0] == "ja" and out[5][1] > 0
    assert out[6][0] == "zh" and out[6][1] > 0
    assert out[7][0] == "th" and out[7][1] > 0
    assert out[8][0] != "ja"
    assert out[9][0] == "ko" and out[9][1] > 0
    assert out[10][0] == "sr" and out[10][1] > 0
    assert out[11][0] == "be" and out[11][1] > 0
    assert out[12][0] == "mk" and out[12][1] > 0
    assert out[13][0] == "kk" and out[13][1] > 0
    assert out[14][0] == "ru" and out[14][1] > 0
    expected_new = {
        15: "is", 16: "eu", 17: "gl", 18: "uz", 19: "mn", 20: "ka",
        21: "hy", 22: "ur", 23: "ta", 24: "te", 25: "mr", 26: "gu",
        27: "kn", 28: "ne", 29: "si", 30: "my", 31: "km", 32: "lo",
        33: "hi", 34: "fa",
    }
    for did, lang in expected_new.items():
        assert out[did][0] == lang and out[did][1] > 0, (did, lang, out[did])

    # dual-dialect: DuckDB oracle agrees on the same fixture
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet/*.parquet'"
    )
    oracle = {
        row[0]: (row[1], row[2])
        for row in con.sql(REGISTRY["lang_id"].oracle()).fetchall()
    }
    assert oracle == out


def test_export_hf_dataset_layout(spark, tmp_path):
    """S8: the written layout is what datasets.load_dataset('parquet')
    consumes — named shards under data/ plus dataset_infos.json."""
    import json
    import os

    from quarrycore_spark.sources.export import export_hf_dataset

    df = spark.createDataFrame(
        [(i, f"text {i}") for i in range(100)], "doc_id long, text string"
    )
    out = str(tmp_path / "hf")
    export_hf_dataset(df, out, shard_size=30)
    shards = sorted(os.listdir(os.path.join(out, "data")))
    shards = [s for s in shards if s.endswith(".parquet")]
    assert shards and all(s.startswith("train-") and "-of-" in s for s in shards)
    info = json.load(open(os.path.join(out, "dataset_infos.json")))
    assert info["default"]["splits"]["train"]["num_examples"] == 100
    assert info["default"]["features"]["doc_id"]["dtype"] == "int64"
    # round-trips through a plain parquet read
    assert spark.read.parquet(os.path.join(out, "data")).count() == 100
