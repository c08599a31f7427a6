"""Property tests: Spark column expressions vs the pure-Python model of
the reference's string semantics (tests/reference_model.py)."""

import pytest
from pyspark.sql import functions as F

from dbd_datawarehouse_scraper_spark.functions import (
    clean_filler_words,
    extract_core_name,
    generate_search_terms,
    normalize_company_name,
    remove_parentheses,
    remove_trailing_numbers,
)
from dbd_datawarehouse_scraper_spark.functions.similarity import name_similarity

from .reference_model import (
    model_clean_fillers,
    model_core_name,
    model_jaccard,
    model_normalize,
    model_remove_parens,
    model_remove_trailing_numbers,
    model_search_terms,
)

NAMES = [
    "บริษัท ซีพี ออลล์ จำกัด (มหาชน)",
    "บริษัท ทดสอบ (ประเทศไทย) จำกัด",
    "ห้างหุ้นส่วนจำกัด รุ่งเรือง การค้า",
    "ห้างหุ้นส่วนสามัญ สมชาย และเพื่อน",
    "ห้างหุ้นส่วนสามัญนิติบุคคล ทองดี",
    "บริษัท เอ บี ซี โฮลดิ้งส์ จำกัด",
    "บริษัท น้ำตาล 2020 จำกัด",
    "บริษัท กรุ๊ป อินเตอร์เนชั่นแนล (Thailand) จำกัด",
    "123 0105536041711 บริษัท ทดสอบ จำกัด กรุงเทพ",
    "45 0994000158441 เงินทุน หลักทรัพย์ จำกัด (มหาชน)",
    "เฉยๆ ไม่มี คำนำหน้า",
    "บริษัท เว้น  วรรค   เยอะ จำกัด",
    "บริษัท (วงเล็บ) จำกัด",
    "Plain English Co",
    "",
    "   ",
    "บริษัท",
    "จำกัด",
    "บริษัท เสริมสุข จำกัด  (มหาชน)",
    "บริษัท ไทย เบฟเวอเรจ จำกัด (มหาชน) 2014",
    "ห้างหุ้นส่วนจำกัด",
    "บริษัท เดี่ยว จำกัด",
]


@pytest.fixture(scope="module")
def results(spark):
    df = spark.createDataFrame([(n,) for n in NAMES], ["name"])
    out = df.select(
        "name",
        normalize_company_name(F.col("name")).alias("norm"),
        extract_core_name(F.col("name")).alias("core"),
        clean_filler_words(F.col("name")).alias("fillers"),
        remove_parentheses(F.col("name")).alias("parens"),
        remove_trailing_numbers(F.col("name")).alias("nums"),
        generate_search_terms(F.col("name")).alias("terms"),
    ).collect()
    return {r["name"]: r for r in out}


def test_normalize(results):
    for n in NAMES:
        assert results[n]["norm"] == model_normalize(n), n


def test_core_name(results):
    for n in NAMES:
        assert results[n]["core"] == model_core_name(n), n


def test_fillers(results):
    for n in NAMES:
        assert results[n]["fillers"] == model_clean_fillers(n), n


def test_parens(results):
    for n in NAMES:
        assert results[n]["parens"] == model_remove_parens(n), n


def test_trailing_numbers(results):
    for n in NAMES:
        assert results[n]["nums"] == model_remove_trailing_numbers(n), n


def test_search_terms(results):
    for n in NAMES:
        assert results[n]["terms"] == model_search_terms(n), n


def test_similarity(spark):
    pairs = [(a, b) for a in NAMES[:10] for b in NAMES[:10]]
    df = spark.createDataFrame(pairs, ["a", "b"])
    rows = df.select("a", "b", name_similarity(F.col("a"), F.col("b")).alias("s")).collect()
    for r in rows:
        assert r["s"] == pytest.approx(model_jaccard(r["a"], r["b"])), (r["a"], r["b"])


PII_ROWS = [
    (1, "contact me at john.doe+spam@example.co.uk or call +1 (555) 123-4567 now"),
    (2, "server at 192.168.0.1 and backup at 10.0.0.255, port 8080"),
    (3, "user12345678@host.org has digits; raw run 123456789012 too"),
    (4, "no pii here, just words and the number 42"),
    (5, "edge: 999.999.999.999 and 1.2.3.4.5 and a+b@c.de"),
    (6, "phones: 0812 345 678, 555-123-4567, (02) 123 4567"),
    (7, None),
    (8, ""),
    (9, "อีเมล thai@บริษัท.com กับ 081-234-5678 ครับ"),
    (10, "v1.2.3.4 version string and semver 10.20.30.40-beta"),
]


def test_pii_counts_and_redaction_semantics(spark):
    """PII screen (functions/pii.py): category counts over adversarial
    rows, and redaction order (email before IPv4 before phone) so an
    email's digit run or an IP's fragments never leak into <PHONE>."""
    from dbd_datawarehouse_scraper_spark.functions.pii import (
        pii_counts,
        redact_pii,
    )

    df = spark.createDataFrame(PII_ROWS, "id long, text string")
    got = {
        r["id"]: (
            r["n_pii_emails"], r["n_pii_ipv4"], r["n_pii_phones"], r["red"]
        )
        for r in df.select(
            "id", *pii_counts(F.col("text")),
            redact_pii(F.col("text")).alias("red"),
        ).collect()
    }
    assert got[1] == (1, 0, 1, "contact me at <EMAIL> or call <PHONE> now")
    assert got[2][1] == 2 and "<IP>" in got[2][3] and "8080" in got[2][3]
    # digit-run inside an email is redacted AS the email, not as phone
    assert got[3][0] == 1 and got[3][3].startswith("<EMAIL> has digits")
    assert got[4] == (0, 0, 0, "no pii here, just words and the number 42")
    assert got[6][2] == 3
    assert got[7] == (None, None, None, None)
    assert got[8] == (0, 0, 0, "")
    # non-ASCII domain is NOT an email per the ASCII pattern; Thai
    # phone still caught
    assert got[9][0] == 0 and got[9][2] == 1
    # boundary-free IPv4: version strings match their 4 leading octets
    # in BOTH engines (the \b the pattern deliberately omits would make
    # Java and RE2 disagree next to non-ASCII letters)
    assert got[10][1] == 2
    assert got[10][3] == "v<IP> version string and semver <IP>-beta"


def test_pii_matches_duckdb_oracle_exactly(spark):
    """The SQL mirrors (pii.counts_sql / redact_sql) are byte-identical
    pattern strings; Spark's Java regex and DuckDB's RE2 must produce
    identical counts AND identical redacted text on the adversarial
    set — this is what makes the text_features oracle fold safe."""
    import duckdb
    import pandas as pd

    from dbd_datawarehouse_scraper_spark.functions.pii import (
        counts_sql,
        pii_counts,
        redact_pii,
        redact_sql,
    )

    df = spark.createDataFrame(PII_ROWS, "id long, text string")
    got = {
        r["id"]: (r["n_pii_emails"], r["n_pii_ipv4"], r["n_pii_phones"], r["red"])
        for r in df.select(
            "id", *pii_counts(F.col("text")),
            redact_pii(F.col("text")).alias("red"),
        ).collect()
    }
    con = duckdb.connect()
    con.register("t", pd.DataFrame(PII_ROWS, columns=["id", "text"]))
    sql = f"SELECT id, {counts_sql('text')}, {redact_sql('text')} AS red FROM t"
    exp = {row[0]: tuple(row[1:]) for row in con.execute(sql).fetchall()}
    assert got == exp


def test_content_split_deterministic_and_proportional(spark):
    """Content-hash splitting (functions/splits.py): assignment is a
    pure function of the fingerprint (rerun- and partition-invariant),
    identical content always gets the same split, the realized
    fractions track the requested ones, and the SQL mirror agrees
    byte-for-byte with the column form."""
    import duckdb
    import pandas as pd

    from dbd_datawarehouse_scraper_spark.functions.splits import (
        content_split,
        split_sql,
    )
    from dbd_datawarehouse_scraper_spark.functions.text_analysis import (
        doc_fingerprint,
    )

    docs = spark.createDataFrame(
        [(i, f"document body number {i} some words") for i in range(2000)]
        + [(9001, "document body number 7 some words")],  # exact dup of 7
        "doc_id long, text string",
    )
    out = docs.select(
        "doc_id",
        doc_fingerprint(F.col("text")).alias("fp"),
        content_split(doc_fingerprint(F.col("text"))).alias("split"),
    )
    rows = {r["doc_id"]: (r["fp"], r["split"]) for r in out.collect()}
    # identical content -> identical split, whatever the ids
    assert rows[9001] == rows[7]
    # rerun + different partitioning -> identical assignment
    rows2 = {
        r["doc_id"]: (r["fp"], r["split"])
        for r in docs.repartition(13)
        .select(
            "doc_id",
            doc_fingerprint(F.col("text")).alias("fp"),
            content_split(doc_fingerprint(F.col("text"))).alias("split"),
        )
        .collect()
    }
    assert rows == rows2
    # proportions: 90/5/5 within a few points on 2001 docs
    from collections import Counter

    c = Counter(v[1] for v in rows.values())
    n = sum(c.values())
    assert 0.85 < c["train"] / n < 0.95
    assert 0.02 < c["val"] / n < 0.08
    assert 0.02 < c["test"] / n < 0.08

    # SQL mirror equivalence on the same fingerprints
    con = duckdb.connect()
    con.register(
        "t", pd.DataFrame([(k, v[0]) for k, v in rows.items()], columns=["id", "fp"])
    )
    sql_split = {
        row[0]: row[1]
        for row in con.execute(
            f"SELECT id, {split_sql('fp')} FROM t"
        ).fetchall()
    }
    assert sql_split == {k: v[1] for k, v in rows.items()}

    # bad fractions refused
    import pytest as _pytest

    with _pytest.raises(ValueError, match="sum to 1"):
        content_split(F.lit("ab"), {"train": 0.5})


@pytest.mark.parametrize(
    "fractions, match",
    [
        ({"train": 1.2, "val": -0.2}, "fraction"),
        ({"train": float("nan"), "val": 1.0}, "fraction"),
        ({"train": "1.0"}, "fraction"),
        ({"it's": 1.0}, "label"),
        ({"a/b": 1.0}, "label"),
        ({"a=b": 1.0}, "label"),
        ({"50%": 1.0}, "label"),
        ({"": 1.0}, "label"),
        ({"train": 0.9, "val": 0.05}, "sum to 1"),
        (["train"], "dict"),
    ],
)
def test_split_spec_refused_everywhere(spark, tmp_path, fractions, match):
    """Every split path refuses a bad spec through the one check in
    functions/splits.py: a negative (or non-finite, or non-numeric)
    fraction would silently empty a split, and a label outside
    [A-Za-z0-9_-]+ would break the SQL mirror's string literal and name
    a different directory in each exporter. Both exporters refuse
    before any work."""
    from dbd_datawarehouse_scraper_spark.functions.splits import (
        content_split,
        split_labels,
        split_sql,
    )
    from dbd_datawarehouse_scraper_spark.plans import export_training_set
    from dbd_datawarehouse_scraper_spark.streaming import (
        stream_export_training_set,
    )

    docs = spark.createDataFrame([(1, "some text")], "doc_id long, text string")
    stream = spark.readStream.format("rate").load().selectExpr(
        "value AS doc_id", "CAST(value AS STRING) AS text"
    )
    for refuse in (
        lambda: content_split(F.col("fp"), fractions),
        lambda: split_sql("fp", fractions),
        lambda: split_labels(fractions),
        lambda: export_training_set(
            docs, str(tmp_path / "out"), split_fractions=fractions
        ),
        lambda: stream_export_training_set(
            stream, str(tmp_path / "sout"), str(tmp_path / "state"),
            str(tmp_path / "ckpt"), split_fractions=fractions,
        ),
    ):
        with pytest.raises(ValueError, match=match):
            refuse()
    assert not list(tmp_path.iterdir())


# ---------------------------------------------------------------- gopher

GOPHER_FIXTURE = [
    (1, ("The results that have been shared with the board be of real "
         "interest to analysts and auditors alike. " * 8).strip()),
    (2, "far too short to pass the bar"),
    (3, "\n".join(["• bullet item one", "- dashed item two",
                   "* starred item three", "• bullet again"] * 20)),
    (4, "\n".join(["a line that trails off..." for _ in range(30)]
                  + ["and the final thought…"])),
    (5, ("the data be good to read of and that have gone with us " * 6)
        + " ### ... ... ### " * 15),
    (6, " ".join("12345" for _ in range(80))),
    (7, None),
    (8, "   \n  \n "),
    (9, ("the quick brown fox with all of that and have be to of it "
         * 10) + "\n"),
]


def _gopher_mirror_sql(table: str) -> str:
    """DuckDB twin of gopher_metrics + gopher_quality_flags, generated
    from the SAME constants the Spark side reads — thresholds or the
    stop list can only change in one place."""
    from dbd_datawarehouse_scraper_spark.functions.text_analysis import (
        GOPHER_DEFAULTS as T,
        GOPHER_STOPWORDS,
    )

    stop_list = ", ".join(f"'{s}'" for s in GOPHER_STOPWORDS)
    return f"""
    WITH m AS (
      SELECT doc_id, coalesce(text, '') AS tx,
        list_filter(str_split_regex(trim(coalesce(text, '')), '\\s+'),
                    w -> w != '') AS words,
        str_split_regex(coalesce(text, ''), '\\r?\\n') AS lines
      FROM {table}),
    g AS (
      SELECT doc_id,
        CAST(len(words) AS BIGINT) AS g_words,
        CAST(length(regexp_replace(tx, '\\s+', '', 'g')) AS BIGINT)
          AS g_word_chars,
        CAST(len(regexp_extract_all(tx, '#')) AS BIGINT)
          AS g_hash_symbols,
        CAST(len(regexp_extract_all(tx, '(\\.\\.\\.|…)')) AS BIGINT)
          AS g_ellipsis_symbols,
        CAST(len(lines) AS BIGINT) AS g_lines,
        CAST(len(list_filter(lines,
          l -> regexp_matches(l, '^[ \\t]*[•\\-\\*]'))) AS BIGINT)
          AS g_bullet_lines,
        CAST(len(list_filter(lines,
          l -> regexp_matches(l, '(\\.\\.\\.|…)[ \\t]*$'))) AS BIGINT)
          AS g_ellipsis_lines,
        CAST(len(list_filter(words,
          w -> regexp_matches(w, '[A-Za-z]'))) AS BIGINT) AS g_alpha_words,
        CAST(len(list_distinct(list_intersect(
          list_transform(words, w -> lower(w)),
          [{stop_list}]))) AS BIGINT) AS g_stop_hits
      FROM m)
    SELECT doc_id, g_words, g_word_chars, g_hash_symbols,
      g_ellipsis_symbols, g_lines,
      g_bullet_lines, g_ellipsis_lines, g_alpha_words, g_stop_hits,
      (g_words >= {T["min_words"]} AND g_words <= {T["max_words"]})
        AS rule_word_count,
      (g_word_chars >= {T["min_mean_word_len"]} * g_words
        AND g_word_chars <= {T["max_mean_word_len"]} * g_words)
        AS rule_mean_word_len,
      (g_hash_symbols <= {T["max_symbol_ratio"]} * g_words
        AND g_ellipsis_symbols <= {T["max_symbol_ratio"]} * g_words)
        AS rule_symbol_ratio,
      (g_bullet_lines <= {T["max_bullet_line_frac"]} * g_lines)
        AS rule_bullet_lines,
      (g_ellipsis_lines <= {T["max_ellipsis_line_frac"]} * g_lines)
        AS rule_ellipsis_lines,
      (g_alpha_words >= {T["min_alpha_word_frac"]} * g_words)
        AS rule_alpha_words,
      (g_stop_hits >= {T["min_stop_hits"]}) AS rule_stop_words
    FROM g ORDER BY doc_id
    """


def test_gopher_metrics_and_rules_match_duckdb_mirror(spark):
    import duckdb

    from dbd_datawarehouse_scraper_spark.functions.text_analysis import (
        gopher_metrics,
        gopher_quality_flags,
    )

    docs = spark.createDataFrame(GOPHER_FIXTURE, "doc_id INT, text STRING")
    wide = docs.select(
        "doc_id",
        *gopher_metrics(F.coalesce(F.col("text"), F.lit(""))),
        gopher_quality_flags(F.col("text")).alias("g"),
    )
    got = [
        tuple(
            [r["doc_id"], r["g_words"], r["g_word_chars"],
             r["g_hash_symbols"], r["g_ellipsis_symbols"],
             r["g_lines"], r["g_bullet_lines"], r["g_ellipsis_lines"],
             r["g_alpha_words"], r["g_stop_hits"],
             r["g"]["word_count"], r["g"]["mean_word_len"],
             r["g"]["symbol_ratio"], r["g"]["bullet_lines"],
             r["g"]["ellipsis_lines"], r["g"]["alpha_words"],
             r["g"]["stop_words"]]
        )
        for r in wide.orderBy("doc_id").collect()
    ]
    con = duckdb.connect()
    con.register(
        "gdocs",
        __import__("pandas").DataFrame(
            GOPHER_FIXTURE, columns=["doc_id", "text"]
        ),
    )
    want = [tuple(r) for r in con.execute(_gopher_mirror_sql("gdocs")).fetchall()]
    assert got == want


def test_gopher_filter_semantics_and_overrides(spark):
    from dbd_datawarehouse_scraper_spark.functions.text_analysis import (
        gopher_filter,
        gopher_quality_flags,
    )

    docs = spark.createDataFrame(GOPHER_FIXTURE, "doc_id INT, text STRING")
    kept = {r["doc_id"] for r in gopher_filter(docs).collect()}
    # 1 and 9 are prose with stop words; everything else violates at
    # least one rule (short, bullets, ellipses, symbols, digits, null)
    assert kept == {1, 9}
    # flags agree with the gate
    flags = {
        r["doc_id"]: r["g"]["pass"]
        for r in docs.select(
            "doc_id", gopher_quality_flags(F.col("text")).alias("g")
        ).collect()
    }
    assert {d for d, p in flags.items() if p} == kept
    # NULL text fails explicitly (word_count rule), never a NULL verdict
    assert flags[7] is False
    # overrides move the gate; unknown keys refuse
    loose = {
        r["doc_id"]
        for r in gopher_filter(docs, overrides={"min_words": 4}).collect()
    }
    assert 2 in loose
    with pytest.raises(ValueError, match="unknown Gopher"):
        gopher_filter(docs, overrides={"min_wordz": 4})
    # non-numeric override values refuse loudly instead of NULLing the
    # predicate and silently dropping every row
    with pytest.raises(ValueError, match="must be numeric"):
        gopher_filter(docs, overrides={"min_words": "6O"})


def test_gopher_symbol_rule_is_per_symbol(spark):
    """Gopher's symbol rule gates the hash ratio and the ellipsis
    ratio SEPARATELY (the paper: 'either the hash symbol or the
    ellipsis'): 8% hash + 8% ellipsis passes (pooled 16% would not),
    11% of either alone fails, and the unicode ellipsis counts."""
    from dbd_datawarehouse_scraper_spark.functions.text_analysis import (
        gopher_quality_flags,
    )

    base = ("the results that have been shared with the board be of real "
            "interest to analysts and auditors alike " * 9).strip()  # 162 w
    docs = spark.createDataFrame(
        [
            (1, base + " #" * 11 + " ..." * 11),   # each 11/184 = 6%
            (2, base + " #" * 21),                 # 21/183 = 11.5% hash
            (3, base + " ..." * 21),               # 11.5% ascii ellipsis
            (4, base + " …" * 21),                 # 11.5% unicode ellipsis
        ],
        "doc_id INT, text STRING",
    )
    flags = {
        r["doc_id"]: r["g"]["symbol_ratio"]
        for r in docs.select(
            "doc_id", gopher_quality_flags(F.col("text")).alias("g")
        ).collect()
    }
    assert flags == {1: True, 2: False, 3: False, 4: False}


def test_gopher_funnel_and_stream_wiring(spark, tmp_path):
    from dbd_datawarehouse_scraper_spark.plans import curate_documents
    from dbd_datawarehouse_scraper_spark.streaming import file_stream
    from dbd_datawarehouse_scraper_spark.streaming.export import (
        stream_export_training_set,
    )

    docs = spark.createDataFrame(
        [(d, t, "s") for d, t in GOPHER_FIXTURE],
        "doc_id long, text string, source string",
    )
    base = dict(keep_langs=("en", "de", "fr", "es", "zh", "und"),
                min_quality=0.0, min_tokens=1)
    without = {r["doc_id"] for r in curate_documents(docs, **base).collect()}
    gated = {
        r["doc_id"]
        for r in curate_documents(docs, gopher_opts={}, **base).collect()
    }
    assert gated <= without and gated == {1, 9}
    # stream: same gate, refusals at start
    with pytest.raises(ValueError, match="unknown Gopher"):
        stream_export_training_set(
            file_stream(spark, str(tmp_path), docs.schema),
            str(tmp_path / "o"), str(tmp_path / "s"), str(tmp_path / "c"),
            gopher_opts={"bogus": 1},
            keep_langs=("en", "und"), min_quality=0.0, min_tokens=1,
        )


def test_repetition_stats_line_and_paragraph_fractions(spark):
    """The r7 Gopher line/paragraph repetition signals: exact fractions
    on crafted docs — repeats beyond the first occurrence count, blank
    lines are not lines, paragraphs split on blank lines, and short/
    empty docs report honest zeros."""
    from dbd_datawarehouse_scraper_spark.functions.text_analysis import (
        repetition_stats,
    )

    docs = spark.createDataFrame(
        [
            # 4 lines, "same line" twice (5 chars x 9? no: len counted
            # exactly below); 2 paragraphs, distinct
            (1, "same line\nsame line\nother\n\nsecond para"),
            # all 3 lines identical; 1 paragraph
            (2, "dup\ndup\ndup"),
            # blank lines don't count as lines
            (3, "a\n\n\na"),
            (4, ""),
            (5, "no newlines at all"),
        ],
        "doc_id INT, text STRING",
    )
    got = {
        r["doc_id"]: (
            r["dup_line_frac"], r["dup_line_char_frac"],
            r["dup_para_frac"], r["dup_para_char_frac"],
        )
        for r in repetition_stats(docs).collect()
    }
    # doc 1: lines [same line, same line, other, second para] -> 4
    # lines, 3 distinct -> 1/4; chars 9+9+5+11=34, distinct 9+5+11=25
    # -> 9/34; paragraphs: ["same line\nsame line\nother", "second
    # para"] distinct -> 0
    assert got[1] == (0.25, round(9 / 34, 6), 0.0, 0.0)
    # doc 2: 3 lines 1 distinct -> 2/3; chars 9 vs 3 -> 6/9; one para
    assert got[2] == (round(2 / 3, 6), round(2 / 3, 6), 0.0, 0.0)
    # doc 3: two non-blank lines "a","a" -> 1/2; paragraphs: split on
    # blank runs -> ["a", "a"] -> 1/2
    assert got[3] == (0.5, 0.5, 0.5, 0.5)
    assert got[4] == (0.0, 0.0, 0.0, 0.0)
    assert got[5] == (0.0, 0.0, 0.0, 0.0)
    # CRLF and whitespace-bearing blank lines separate paragraphs and
    # terminate lines just like plain '\n' (the r7 review fix: dup
    # spam with '\r\n\r\n' or ' \n \n' separators must not score 0)
    crlf = {
        r["doc_id"]: (
            r["dup_line_frac"], r["dup_line_char_frac"],
            r["dup_para_frac"], r["dup_para_char_frac"],
        )
        for r in repetition_stats(
            spark.createDataFrame(
                [
                    (6, "same para\r\n\r\nsame para"),
                    (7, "same para\n \t\nsame para"),
                    (8, "dup\r\ndup\r\nother"),
                ],
                "doc_id INT, text STRING",
            )
        ).collect()
    }
    assert crlf[6] == (0.5, 0.5, 0.5, 0.5)
    assert crlf[7] == (0.5, 0.5, 0.5, 0.5)
    assert crlf[8][:2] == (round(1 / 3, 6), round(3 / 11, 6))
