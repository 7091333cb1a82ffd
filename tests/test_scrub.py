"""PII-redaction operator (operators/scrub.py).

PII parity runs the SAME RE2-compatible patterns through DuckDB's
regexp_replace as an independent engine oracle over real testdata.
"""

import duckdb

from privacy_crawler_parser_tokenizer_spark.operators import scrub
from privacy_crawler_parser_tokenizer_spark.plans.introspect import (
    formatted_plan,
    n_exchanges,
)

SF = "/root/testdata/sf0.001"

CASES = [
    ("contact bob.smith+x@example.co.uk today", "contact <EMAIL> today"),
    ("card 1234 5678 9012 3456 on file", "card <CC> on file"),
    ("ssn 123-45-6789 leaked", "ssn <SSN> leaked"),
    ("call (415) 555-2671 or 415-555-2671", "call <PHONE> or <PHONE>"),
    ("intl +1 415 555 2671 works", "intl <PHONE> works"),
    ("host at 192.168.001.1 port", "host at <IP> port"),
    ("no pii here. just words.", "no pii here. just words."),
    ("", ""),
]


def test_pii_redact_units(spark):
    df = spark.createDataFrame([(i, t) for i, (t, _) in enumerate(CASES)],
                               "id int, text string")
    out = {r["id"]: r for r in scrub.pii_scrub(df).collect()}
    for i, (_, want) in enumerate(CASES):
        assert out[i]["redacted"] == want, (i, out[i]["redacted"])
    # counts mirror the replacements
    assert out[0]["pii"]["email"] == 1
    assert out[1]["pii"]["cc"] == 1
    assert out[3]["pii"]["phone"] == 2
    assert out[5]["pii"]["ipv4"] == 1
    assert sum(out[6]["pii"].asDict().values()) == 0


def test_pii_counts_no_double_count(spark):
    # an email whose local part contains digits must not ALSO count as
    # phone/cc once redacted; a CC must not re-match as phone
    df = spark.createDataFrame(
        [(0, "415 555 1234 9999@mail.com and 1111 2222 3333 4444")],
        "id int, text string",
    )
    row = scrub.pii_scrub(df).collect()[0]
    c = row["pii"].asDict()
    assert c["email"] == 1 and c["cc"] == 1
    assert "<CC>" in row["redacted"] and "<EMAIL>" in row["redacted"]


def test_pii_duckdb_engine_parity(spark):
    """Same patterns, independent regex engine (RE2), real documents."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    got = {
        r["doc_id"]: r["redacted"]
        for r in scrub.pii_scrub(docs).select("doc_id", "redacted").collect()
    }
    con = duckdb.connect()
    expr = "text"
    for _label, pattern, repl in scrub.PII_PATTERNS:
        expr = f"regexp_replace({expr}, '{pattern}', '{repl}', 'g')"
    want = dict(
        con.execute(
            f"SELECT doc_id, {expr} FROM read_parquet('{SF}/documents.parquet')"
        ).fetchall()
    )
    assert got == want


def test_pii_scrub_is_shuffle_free(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    assert n_exchanges(formatted_plan(scrub.pii_scrub(docs))) == 0


def test_pii_patterns_compile_both_engines():
    """Every PII pattern must compile under Python re AND DuckDB's RE2,
    and survive the single-quote escaping used to inline it into the
    oracle SQL literal (ADVICE r3: a quote in a future pattern must fail
    loudly here, not silently diverge the oracle)."""
    import re as _re

    import duckdb

    from privacy_crawler_parser_tokenizer_spark.operators.scrub import (
        PII_PATTERNS,
    )

    con = duckdb.connect()
    for label, pattern, repl in PII_PATTERNS:
        _re.compile(pattern)  # Python/JVM-compatible source
        q_pat = pattern.replace("'", "''")
        q_repl = repl.replace("'", "''")
        (out,) = con.execute(
            f"SELECT regexp_replace('probe 555-867-5309 x@y.com', "
            f"'{q_pat}', '{q_repl}', 'g')"
        ).fetchone()
        assert isinstance(out, str), (label, out)
