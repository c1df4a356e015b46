"""Each text unit has one definition per engine, and the two agree.

`textops.tokens`, `normalize_text` and `word_ngrams` and `dedup.shingles_expr`
are the Spark units; `tokens_sql`, `normalize_text_sql`, `word_ngrams_sql` and
`dedup.shingles_sql` their DuckDB twins, which every oracle calls. Texts are
drawn over whitespace that Java's `\\s`, RE2's `\\s` and Python's `split()`
read differently, and run through both engines in one Spark job and one
DuckDB query. A source scan keeps the raw spellings inside the twins, those
of the similarity units (cosine, top-k, nearest cell) included.
"""

from __future__ import annotations

import ast
from pathlib import Path

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from beats_spark import dedup as D
from beats_spark import textops as X

_ALPHABET = [" ", "\t", "\n", "\x0b", "\f", "\r", "\xa0", "\u2003", "Σ",
             "a", "b", "Ab"]
# each one a text on which two tokenizers of the repo disagreed
_TABLE = ["", None, "a\x0bb c", "\tfoo", "a\xa0b", "\xa0a\xa0", " a  b ",
          "a b", "\x0b", " \n ", "Ab Ab ab"]
_NS = (1, 2, 3, 4)


def _draws(n: int = 300) -> list[str]:
    """`n` texts drawn over `_ALPHABET`, collected without touching Spark so
    that all of them run in one job."""
    out: list[str] = []

    @settings(max_examples=n, deadline=None, database=None)
    @given(st.lists(st.sampled_from(_ALPHABET), max_size=10).map("".join))
    def collect(text):
        out.append(text)

    collect()
    return out


def _spark_units(spark, texts):
    df = spark.createDataFrame(list(enumerate(texts)), "i int, text string")
    cols = [X.tokens(F.col("text")).alias("toks"),
            X.normalize_text(F.col("text")).alias("norm")]
    grams = [X.word_ngrams(F.col("toks"), n, guarded=g).alias(f"g{n}{g:d}")
             for n in _NS for g in (False, True)]
    rows = (df.select("i", *cols)
            .select("*", *grams, D.shingles_expr("norm", 5).alias("sh"))
            .orderBy("i").collect())
    return [r.asDict() for r in rows]


def _duckdb_units(texts):
    grams = ", ".join(
        f'{X.word_ngrams_sql("toks", n, guarded=g)} AS g{n}{g:d}'
        for n in _NS for g in (False, True))
    with duckdb.connect() as con:
        con.execute("CREATE TABLE v (i INTEGER, text VARCHAR)")
        con.executemany("INSERT INTO v VALUES (?, ?)", list(enumerate(texts)))
        cur = con.execute(f"""
SELECT i, toks, norm, {grams}, {D.shingles_sql("norm", 5)} AS sh
FROM (SELECT i, {X.tokens_sql("text")} AS toks,
             {X.normalize_text_sql("text")} AS norm FROM v)
ORDER BY i""")
        names = [d[0] for d in cur.description]
        return [dict(zip(names, r)) for r in cur.fetchall()]


def _fold_final_sigma(v):
    """Spark lowercases a word-final Σ to ς, DuckDB to σ (pinned by
    `test_final_sigma_lowercase`); the alphabet has no ς of its own."""
    if isinstance(v, str):
        return v.replace("ς", "σ")
    if isinstance(v, list):
        return [_fold_final_sigma(x) for x in v]
    return v


def test_twins_match_spark_units(spark):
    texts = _TABLE + _draws()
    for text, s, d in zip(texts, _spark_units(spark, texts),
                          _duckdb_units(texts)):
        for unit in ("toks", "norm", *(f"g{n}{g:d}" for n in _NS
                                       for g in (False, True))):
            assert _fold_final_sigma(s[unit]) == d[unit], (text, unit)
        assert set(_fold_final_sigma(s["sh"])) == set(d["sh"]), text


def test_vertical_tab_and_null(spark):
    """\\x0B separates tokens in both engines; NULL text has NULL tokens and
    key, `['']` grams (none when guarded) and no shingles."""
    texts = ["a\x0bb c", None]
    want = [(["a", "b", "c"], "a b c", ["a b", "b c"], ["a b", "b c"],
             ["a b c"]),
            (None, None, [""], [], [])]
    for rows in (_spark_units(spark, texts), _duckdb_units(texts)):
        assert [(r["toks"], r["norm"], r["g20"], r["g21"], r["sh"])
                for r in rows] == want


@pytest.mark.xfail(strict=True, reason="DuckDB's lower has no final-sigma "
                   "rule: Spark gives 'ας', DuckDB 'ασ'")
def test_final_sigma_lowercase(spark):
    s, = _spark_units(spark, ["ΑΣ"])
    d, = _duckdb_units(["ΑΣ"])
    assert s["norm"] == d["norm"]


def test_other_whitespace_classes_match(spark):
    """The BPE pre-token, punctuation, C4 words-per-line and URL-host
    classes read \\x0B as whitespace in both engines."""
    texts = ["a\x0b!b 7", "x\x0by?",
             "one\x0btwo three four five.\nsix seven eight nine ten.\n"
             "a b c d e.",
             # CRLF: Java's `$` matches before the final `\r`, RE2's does not
             "one two three four five.\r\nsix seven eight nine ten.\n"
             "a b c d e.",
             "see http://spam-mill.example\x0bfoo and https://ok.example/x"]
    df = spark.createDataFrame(list(enumerate(texts)), "i int, text string")
    out = X.url_blocklist_flag(
        X.c4_clean(X.quality_features(X.bpe_token_count(df))))
    cols = ["n_bpe_tokens", "punct_ratio", "quality_score", "cleaned",
            "n_lines_kept", "url_hosts", "blocked_url"]
    got = [tuple(r) for r in out.orderBy("i").select(*cols).collect()]
    qf, c4 = X.quality_features_sql("text"), X.c4_clean_sql("text")
    url = X.url_blocklist_sql()
    exprs = [X.bpe_token_count_sql(), qf["punct_ratio"], qf["quality_score"],
             c4["cleaned"], c4["n_lines_kept"], url["url_hosts"],
             url["blocked_url"]]
    with duckdb.connect() as con:
        con.execute("CREATE TABLE documents (i INTEGER, text VARCHAR)")
        con.executemany("INSERT INTO documents VALUES (?, ?)",
                        list(enumerate(texts)))
        want = con.execute(
            f"SELECT {', '.join(exprs)} FROM documents ORDER BY i").fetchall()
    assert got == [tuple(w) for w in want]
    assert got[3][4] == 3
    assert got[4][5] == ["spam-mill.example", "ok.example"]


# -- the hash kernel tokenizes with `textops.tokens` --------------------------

_KERNEL_TEXTS = ["a\xa0b", "\tfoo", "foo", "x y\x0bz"]


def _oracle_votes(texts):
    from beats_spark import queries as Q

    with duckdb.connect() as con:
        con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
        con.executemany("INSERT INTO documents VALUES (?, ?)",
                        list(enumerate(texts)))
        sig = Q._SIMHASH_ORACLE[:Q._SIMHASH_ORACLE.rindex("SELECT id_a")]
        sigs = con.execute(
            sig + "SELECT doc_id, c0, c1, c2, c3 FROM sig").fetchall()
        votes = con.execute(
            Q._hash_embed_votes_cte(len(texts))
            + " SELECT doc_id, list(vote ORDER BY b) FROM bits GROUP BY 1"
        ).fetchall()
    return ({i: sum(c << (16 * k) for k, c in enumerate(cs))
             for i, *cs in sigs}, dict(votes))


def test_kernel_tokens_match_oracles(spark):
    df = spark.createDataFrame(list(enumerate(_KERNEL_TEXTS)),
                               "doc_id long, text string")
    rows = D.hash_embedding(D.simhash(df)).orderBy("doc_id").collect()
    sigs, votes = _oracle_votes(_KERNEL_TEXTS)
    for r in rows:
        assert r["simhash"] % (1 << 64) == sigs[r["doc_id"]], r["text"]
        assert r["hash_emb"] == votes[r["doc_id"]], r["text"]


# -- tooling guard: the raw spellings live in their twins only -----------------
# (the similarity units of `similarity.py` too: cosine and the top-k and
# nearest-cell windows; and the IPv4 unit of `conditions.py`)

_SPELLINGS = {
    "regexp_split_to_array(trim(lower": {("textops.py", "tokens_sql")},
    "regexp_replace(lower(": {("textops.py", "normalize_text_sql")},
    "[i:i+": {("textops.py", "word_ngrams_sql")},
    ".lower().split()": set(),
    "sqrt(list_dot_product": {("similarity.py", "cosine_sql")},
    "/ (_norm(": {("similarity.py", "_cosine")},
    "PARTITION BY query_id": {("similarity.py", "top_k_sql")},
    '.desc(), F.col("neighbor_id")': {("similarity.py", "_top_k")},
    "DESC, cell_id": {("similarity.py", "nearest_cells_sql")},
    "16777216": {("conditions.py", "_ipv4_int_col"), ("conditions.py", "_ipv4_int_sql")},
    # the IPv4 unit, its twin, and its row of the condition leaf table
    "_network_pred": {("conditions.py", "_network_pred"), ("conditions.py", "_network_sql"),
                      ("conditions.py", None)},
}


def _enclosing_functions(tree: ast.AST) -> list[tuple[int, int, str]]:
    return [(n.lineno, n.end_lineno, n.name) for n in ast.walk(tree)
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))]


def test_text_units_are_spelled_once():
    root = Path(__file__).resolve().parents[1] / "beats_spark"
    found = []
    for path in sorted(root.rglob("*.py")):
        src = path.read_text()
        funcs = _enclosing_functions(ast.parse(src))
        for lineno, line in enumerate(src.splitlines(), 1):
            for spelling, allowed in _SPELLINGS.items():
                if spelling not in line:
                    continue
                inner = [f for f in funcs if f[0] <= lineno <= f[1]]
                name = min(inner, key=lambda f: f[1] - f[0])[2] if inner else None
                if (path.name, name) not in allowed:
                    found.append(f"{path.relative_to(root)}:{lineno}: {spelling}")
    assert not found, "unit spelled outside its twin:\n" + "\n".join(found)

