"""Unicode contract pins for the text root (tokens / fingerprint).

The r8 primitive probe compared Spark and DuckDB on adversarial text:
NBSP / ideographic space / ZWSP / CRLF / fullwidth / emoji-ZWJ /
combining marks / regex metacharacters all agree between engines. Three
cases DIVERGE at the primitive level and therefore bound the ORACLE's
domain (the engine's behavior is the contract; DuckDB is the checker):

- Turkish dotted capital İ: Java lowercases to 'i' + COMBINING DOT
  ABOVE (U+0069 U+0307, the Unicode-correct mapping); DuckDB folds to
  plain 'i'.
- Greek capital sigma Σ in final position: Java applies the
  context-sensitive final-sigma rule (ς); DuckDB always emits σ.
- Vertical tab U+000B: Java regex \\s includes it; RE2's does not, so
  tokenization splits differently.

These tests PIN the Spark-side behavior so an engine upgrade that
changes the mapping is caught; the fixture text stays out of the
oracle-compared corpora by design (see the ``unicode`` axis of
tools/sweep.py)."""

from __future__ import annotations

from pyspark.sql import functions as F


def _tok_fp(spark, text):
    df = spark.createDataFrame([(text,)], "text string")
    row = df.select(
        F.filter(
            F.split(F.trim(F.lower("text")), r"\s+"), lambda t: t != ""
        ).alias("toks"),
        F.md5(
            F.regexp_replace(F.lower(F.trim("text")), r"\s+", " ")
        ).alias("fp"),
    ).collect()[0]
    return list(row["toks"]), row["fp"]


def test_turkish_dotted_i_lowers_with_combining_dot(spark):
    toks, _ = _tok_fp(spark, "İstanbul")
    assert toks == ["i̇stanbul"]  # U+0069 U+0307, not plain 'i'


def test_greek_final_sigma_rule_applies(spark):
    toks, _ = _tok_fp(spark, "ΟΔΥΣΣΕΥΣ")
    assert toks == ["οδυσσευς"]  # trailing ς, context-sensitive


def test_vertical_tab_is_token_whitespace(spark):
    toks, _ = _tok_fp(spark, "a\x0bb\x0cc")
    assert toks == ["a", "b", "c"]  # Java \s covers \x0B and \x0C


def test_benign_unicode_is_engine_stable(spark):
    """The cases the probe showed AGREE across engines: normalizing them
    must keep producing the same fingerprints (a tokenizer change that
    breaks NBSP/ZWJ/fullwidth handling shows up here)."""
    cases = {
        "a b c": 2,          # NBSP binds - not \s in either engine
        "a　b": 1,            # ideographic space neither
        "a​b c": 2,          # ZWSP binds
        "a\r\nb\tc": 3,
        "ＡＢＣ def": 2,  # fullwidth letters lower in place
        "\U0001f469‍\U0001f680 x": 2,  # emoji ZWJ sequence intact
    }
    for text, n in cases.items():
        toks, fp = _tok_fp(spark, text)
        assert len(toks) == n, (text, toks)
        assert len(fp) == 32


def test_length_counts_code_points_like_duckdb(spark):
    """The r9 curation scores (quality_gate, line_boilerplate char
    ratios) lean on length(); pin that Spark counts CODE POINTS —
    decomposed combining marks, ZWJ, astral plane, CJK — exactly like
    DuckDB's length(), so multibyte corpora stay inside the oracle
    domain (probed r9: engines agree on every class)."""
    import duckdb

    cases = [
        "é decomposed",        # combining acute: 2 cp for the e
        "é precomposed",        # single cp
        "x‍y zwj",              # zero-width joiner is 1 cp
        "astral \U0001d11e clef",    # surrogate pair in UTF-16, 1 cp
        "日本語 cjk",
    ]
    df = spark.createDataFrame([(t,) for t in cases], "text string")
    got = {r.text: r.n for r in df.select("text", F.length("text").alias("n")).collect()}
    con = duckdb.connect()
    for t in cases:
        want = con.execute("select length(?)", [t]).fetchone()[0]
        assert got[t] == want == len(t), (repr(t), got[t], want, len(t))
