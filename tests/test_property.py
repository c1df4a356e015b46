"""Property-based tests (hypothesis) — the reference relies on table-driven
+ golden corpora (SURVEY §5); these add generative coverage on top:

- dissect round-trip: construct a message FROM a random tokenizer and
  random values, extraction must return those values;
- vectorized == scalar: the pandas frame path and the per-string reference
  path agree on arbitrary inputs;
- condition compiler: Spark evaluation of random and/or/not trees over
  equals/range matches a pure-Python evaluator (missing ⇒ False), and so
  does the DuckDB twin `condition_sql`.
"""

from __future__ import annotations

import re

import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from beats_spark.dissect import Dissector
from beats_spark.grok import Grok, _convert_scalar

# values must not contain the delimiter; keep both printable-simple
_VALUE = st.text(
    alphabet=st.characters(whitelist_categories=("Ll", "Lu", "Nd")),
    min_size=1, max_size=12,
)
_KEY = st.from_regex(r"[a-z][a-z0-9]{0,6}", fullmatch=True)
_DELIM = st.sampled_from([" ", " - ", ",", "|", "\t", "::"])


@st.composite
def tokenizer_and_message(draw):
    n = draw(st.integers(min_value=1, max_value=5))
    keys = draw(st.lists(_KEY, min_size=n, max_size=n, unique=True))
    delim = draw(_DELIM)
    values = draw(st.lists(_VALUE, min_size=n, max_size=n))
    tok = delim.join("%{" + k + "}" for k in keys)
    msg = delim.join(values)
    return tok, keys, msg, values


@settings(max_examples=60, deadline=None)
@given(tokenizer_and_message())
def test_dissect_roundtrip(case):
    tok, keys, msg, values = case
    d = Dissector(tok)
    got = d.dissect(msg)
    assert got is not None, (tok, msg)
    assert [got[k] for k in keys] == values


@settings(max_examples=30, deadline=None)
@given(tokenizer_and_message())
def test_dissect_frame_matches_scalar(case):
    tok, keys, msg, values = case
    d = Dissector(tok)
    frame = d.dissect_frame(pd.Series([msg, None, "x" if " " in tok else ""]))
    scalar = d.dissect(msg)
    row = frame.iloc[0]
    for k in keys:
        assert _convert_scalar(row[k], d.key_types[k]) == scalar[k]


@settings(max_examples=40, deadline=None)
@given(
    st.lists(
        st.sampled_from(["INT", "WORD", "NOTSPACE"]), min_size=1, max_size=4
    ),
    st.data(),
)
def test_grok_roundtrip(pats, data):
    fields = [f"f{i}" for i in range(len(pats))]
    expr = "^" + " ".join(
        "%{" + p + ":" + f + "}" for p, f in zip(pats, fields)
    ) + "$"
    g = Grok(expr)
    vals = []
    for p in pats:
        if p == "INT":
            vals.append(str(data.draw(st.integers(-999, 999))))
        else:
            vals.append(data.draw(st.from_regex(r"[A-Za-z0-9]{1,8}", fullmatch=True)))
    msg = " ".join(vals)
    got = g.grok(msg)
    assert got is not None
    assert [str(got[f]) for f in fields] == vals


# -- condition compiler vs pure-python evaluator ------------------------------

_FIELDS = ["a", "b"]


@st.composite
def condition_tree(draw, depth=0):
    if depth >= 2 or draw(st.booleans()):
        kind = draw(st.sampled_from(["equals", "range", "has_fields"]))
        f = draw(st.sampled_from(_FIELDS + ["missing"]))
        if kind == "equals":
            return {"equals": {f: draw(st.integers(0, 5))}}
        if kind == "range":
            lo = draw(st.integers(0, 3))
            return {"range": {f: {"gte": lo, "lt": lo + draw(st.integers(1, 3))}}}
        return {"has_fields": [f]}
    op = draw(st.sampled_from(["and", "or", "not"]))
    if op == "not":
        return {"not": draw(condition_tree(depth=depth + 1))}
    return {op: draw(st.lists(condition_tree(depth=depth + 1), min_size=1, max_size=3))}


def _eval_py(cfg, row: dict) -> bool:
    (kind, body), = cfg.items()
    if kind == "and":
        return all(_eval_py(c, row) for c in body)
    if kind == "or":
        return any(_eval_py(c, row) for c in body)
    if kind == "not":
        return not _eval_py(body, row)
    if kind == "equals":
        return all(row.get(f) is not None and row.get(f) == v for f, v in body.items())
    if kind == "range":
        ok = True
        for f, ops in body.items():
            v = row.get(f)
            if v is None:
                return False
            for op, bound in ops.items():
                ok &= {"gte": v >= bound, "gt": v > bound,
                       "lte": v <= bound, "lt": v < bound}[op]
        return ok
    if kind == "has_fields":
        return all(row.get(f) is not None for f in body)
    raise AssertionError(kind)


@settings(max_examples=25, deadline=None)
@given(st.lists(condition_tree(), min_size=1, max_size=3))
def test_condition_compiler_matches_python(spark, trees):
    import duckdb

    from beats_spark.conditions import compile_condition, condition_sql

    rows = [(a, b) for a in [None, 0, 1, 2, 5] for b in [None, 0, 3]]
    df = spark.createDataFrame(rows, "a int, b int")
    con = duckdb.connect()
    con.execute("CREATE TABLE t (a INTEGER, b INTEGER)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    for cfg in trees:
        got = [
            r.m
            for r in df.withColumn("m", compile_condition(cfg, df))
            .orderBy("a", "b").collect()
        ]
        want = [
            _eval_py(cfg, {"a": a, "b": b})
            for a, b in sorted(rows, key=lambda t: (t[0] is not None, t[0] or 0,
                                                    t[1] is not None, t[1] or 0))
        ]
        assert got == want, cfg
        # the DuckDB twin, with `missing` absent from the schema
        sql = condition_sql(cfg, df.schema)
        twin = [m for (m,) in con.execute(
            f"SELECT {sql} FROM t ORDER BY a NULLS FIRST, b NULLS FIRST"
        ).fetchall()]
        assert twin == want, (cfg, sql)
    con.close()


_doc_text = st.text(
    alphabet="ab c\nd.!", min_size=0, max_size=60
)


@settings(max_examples=15, deadline=None)
@given(st.lists(_doc_text, min_size=1, max_size=8))
def test_repetition_features_invariants(spark, texts):
    from beats_spark.textops import repetition_features

    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    rows = repetition_features(docs).collect()
    assert len(rows) == len(texts)
    for r in rows:
        # fracs are bounded: dup fractions in [0,1); top-gram char fraction
        # is ≥0 (can exceed 1 via overlapping occurrences, never negative)
        assert 0.0 <= r.dup_line_frac < 1.0
        assert 0.0 <= r.dup_line_char_frac < 1.0
        assert r.top_ngram_char_frac >= 0.0
        lines = [ln.strip() for ln in (r.text or "").split("\n") if ln.strip()]
        if len(set(lines)) == len(lines):
            assert r.dup_line_frac == 0.0 and r.dup_line_char_frac == 0.0


@settings(max_examples=10, deadline=None)
@given(st.lists(st.text(alphabet="abc de", min_size=1, max_size=40),
                min_size=1, max_size=6))
def test_decontaminate_self_probe_flags_everything(spark, texts):
    # probing a corpus with ITSELF must flag every non-null doc
    from beats_spark.dedup import decontaminate

    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    out = decontaminate(docs, docs, n=3).collect()
    for r in out:
        assert r.contaminated is True


_pii_text = st.text(
    alphabet="ab1@. -x\n", min_size=0, max_size=60
)


@settings(max_examples=15, deadline=None)
@given(st.lists(_pii_text, min_size=1, max_size=8))
def test_pii_redact_total_and_idempotent(spark, texts):
    # after one pass no pattern matches remain (replacement tokens contain
    # no digits or '@', so they can't manufacture new matches), hence a
    # second pass is the identity
    import pyspark.sql.functions as SF

    from beats_spark.textops import PII_PATTERNS, pii_redact

    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    once = pii_redact(docs).select(
        "doc_id",
        SF.col("redacted").alias("text"),
        *[SF.col(f"n_{k}").alias(f"first_n_{k}") for k, _, _ in PII_PATTERNS],
    )
    twice = pii_redact(once).collect()
    for r in twice:
        for kind, _, _ in PII_PATTERNS:
            assert r[f"n_{kind}"] in (0, None), (kind, r["text"])
        assert r["redacted"] == r["text"]


@settings(max_examples=15, deadline=None)
@given(st.lists(st.text(alphabet="ab c.!{\n", min_size=0, max_size=80),
                min_size=1, max_size=8))
def test_c4_clean_kept_lines_all_qualify(spark, texts):
    # every surviving line must itself satisfy the line rules, and keep
    # implies >= 3 surviving lines and no page-level violation
    from beats_spark.textops import c4_clean

    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    for r in c4_clean(docs).collect():
        kept = r["cleaned"].split("\n") if r["cleaned"] else []
        assert r["n_lines_kept"] == len(kept)
        for ln in kept:
            assert ln and ln[-1] in '.!?"'
            assert len(ln.split()) >= 5
            assert "javascript" not in ln.lower()
        if r["keep"]:
            assert len(kept) >= 3
            assert "{" not in (r["text"] or "")
            assert "lorem ipsum" not in (r["text"] or "").lower()


@settings(max_examples=15, deadline=None)
@given(st.lists(st.text(alphabet="aB c.!? ", min_size=0, max_size=100),
                min_size=1, max_size=8))
def test_span_dedup_no_dups_is_identity(spark, texts):
    # token conservation: removed + kept sentence counts always reconcile,
    # and a corpus with no duplicated span comes back intact
    from beats_spark.dedup import span_dedup

    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    rows = span_dedup(docs).collect()
    assert len(rows) == len(texts)
    for r in rows:
        assert 0 <= r["n_removed"] <= r["n_sentences"]
        if r["n_removed"] == 0:
            # untouched docs come back whitespace-normalized but intact:
            # the sentence regex partitions every character, and rejoining
            # only inserts/normalizes whitespace — the non-whitespace char
            # sequence is preserved exactly
            assert "".join(r["deduped"].split()) == \
                "".join((r["text"] or "").split())


def _substr_dedup_reference(texts: list[str], k: int):
    """Pure-Python ExactSubstr reference: first occurrence (doc order,
    then position) of each duplicated k-token window owns it; every other
    occurrence removes its covered positions."""
    toks = [t.strip().lower().split() if t.strip() else [""] for t in texts]
    # NOTE: python split() drops empties; Spark split('\s+') on trimmed
    # text yields [''] for empty — mirror that
    occ: dict[tuple, list[tuple[int, int]]] = {}
    for d, ts in enumerate(toks):
        for p in range(len(ts) - k + 1):
            occ.setdefault(tuple(ts[p:p + k]), []).append((d, p))
    removed: dict[int, set[int]] = {}
    for places in occ.values():
        if len(places) > 1:
            for d, p in sorted(places)[1:]:
                removed.setdefault(d, set()).update(range(p, p + k))
    out = []
    for d, ts in enumerate(toks):
        rem = removed.get(d, set())
        kept = [t for i, t in enumerate(ts) if i not in rem]
        out.append((len(ts), len(rem), " ".join(kept)))
    return out


@settings(max_examples=15, deadline=None)
@given(st.lists(
    st.lists(st.sampled_from("abcde"), min_size=1, max_size=24)
    .map(lambda ws: " ".join(ws)),
    min_size=1, max_size=8,
))
def test_exact_substr_dedup_matches_reference(spark, texts):
    from beats_spark.dedup import exact_substr_dedup

    k = 3
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {r["doc_id"]: r for r in
           exact_substr_dedup(docs, window=k).collect()}
    want = _substr_dedup_reference(texts, k)
    for d, (n_tok, n_rem, deduped) in enumerate(want):
        assert got[d]["n_tokens"] == n_tok, (d, texts)
        assert got[d]["n_removed"] == n_rem, (d, texts)
        assert got[d]["deduped"] == deduped, (d, texts)


@settings(max_examples=12, deadline=None)
@given(st.lists(st.text(alphabet="abcd efg\nh.", min_size=0, max_size=80),
                min_size=1, max_size=6))
def test_cdc_chunks_match_python_reference(spark, texts):
    """cdc_chunk_hashes must equal a pure-Python recompute of the same
    boundary predicate on every input: chunks concatenate back to the
    normalized doc and hash identically."""
    import hashlib
    import re as _re

    from beats_spark.textops import cdc_chunk_hashes

    k, z = 8, 1

    def ref(text):
        norm = _re.sub(r"\s+", " ", text.lower()).strip()
        n = len(norm)
        if n == 0:
            return []
        ends = [
            i + k - 1
            for i in range(1, n - k + 2)
            if hashlib.md5(norm[i - 1:i - 1 + k].encode()).hexdigest()[:z]
            == "0" * z and i + k - 1 < n
        ]
        ends.append(n)
        starts = [1] + [e + 1 for e in ends[:-1]]
        return [hashlib.md5(norm[s - 1:e].encode()).hexdigest()
                for s, e in zip(starts, ends)]

    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {r.doc_id: list(r.cdc_hashes)
           for r in cdc_chunk_hashes(docs, k=k, zero_prefix=z).collect()}
    for i, t in enumerate(texts):
        assert got[i] == ref(t), (i, t)


@settings(max_examples=15, deadline=None)
@given(
    st.lists(st.floats(min_value=0.01, max_value=10.0,
                       allow_nan=False), min_size=1, max_size=5),
    st.integers(min_value=0, max_value=10**9),
)
def test_hash_split_total_partition_any_weights(weights, doc_id):
    """For ANY positive weight vector, the threshold chain partitions the
    whole 16^8 decision space: every id lands in exactly one split, and
    the last threshold is the space top."""
    import hashlib as hl

    from beats_spark.sampling import _HEX_SPACE, _split_thresholds

    names = [f"s{i}" for i in range(len(weights))]
    ths = _split_thresholds(dict(zip(names, weights)))
    assert ths[-1][1] == format(_HEX_SPACE, "09x")
    # thresholds are monotone non-decreasing 9-hex strings
    assert [t for _, t in ths] == sorted(t for _, t in ths)
    hexv = "0" + hl.md5(f"{doc_id}:split".encode()).hexdigest()[:8]
    hits = [n for n, t in ths if hexv < t]
    assert hits  # at least the last split always catches


@settings(max_examples=8, deadline=None)
@given(st.lists(st.text(alphabet="ab c", min_size=0, max_size=40),
                min_size=2, max_size=6))
def test_containment_prefix_filter_equals_brute_force(spark, texts):
    """On arbitrary tiny corpora the prefix-filtered join returns EXACTLY
    the brute-force containment pairs — no false dismissals from the
    prefix/size pruning, at a threshold that exercises partial overlap."""
    from beats_spark.dedup import containment_pairs

    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {(r["id_a"], r["id_b"])
           for r in containment_pairs(docs, threshold=0.6, ngram_n=2)
           .collect()}

    def gramset(t, n=2):
        tk = t.strip().lower().split()
        if len(tk) < n:
            return set()
        return {" ".join(tk[i:i + n]) for i in range(len(tk) - n + 1)}

    sets = {i: gramset(t) for i, t in enumerate(texts)}
    want = {
        (a, b)
        for a in sets for b in sets
        if a != b and sets[a]
        and len(sets[a] & sets[b]) >= 0.6 * len(sets[a])
    }
    assert got == want


def _word_ngrams_reference(toks: list[str], n: int, guarded: bool) -> list[str]:
    if len(toks) < n:
        return [] if guarded else [" ".join(toks)]
    return [" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)]


@settings(max_examples=20, deadline=None)
@given(st.lists(st.lists(st.sampled_from(["a", "b", "cd", "é"]), max_size=8),
                min_size=1, max_size=6),
       st.integers(min_value=1, max_value=4))
def test_word_ngrams_matches_slice_reference(spark, runs, n):
    """textops.word_ngrams, the one word n-gram builder of dedup and the
    text filters, against a Python slice reference: in order, repeats
    kept, a run shorter than n one whole-run gram (none when guarded)."""
    from pyspark.sql import functions as F

    from beats_spark.textops import word_ngrams

    runs = [*runs, ["a"] * (n - 1)]  # always one run shorter than n
    df = spark.createDataFrame(list(enumerate(runs)), "i int, toks array<string>")
    got = df.select(
        "i",
        word_ngrams(F.col("toks"), n).alias("g"),
        word_ngrams(F.col("toks"), n, guarded=True).alias("guarded"),
    ).collect()
    for row in got:
        toks = runs[row["i"]]
        assert row["g"] == _word_ngrams_reference(toks, n, False), (toks, n)
        assert row["guarded"] == _word_ngrams_reference(toks, n, True), (toks, n)
