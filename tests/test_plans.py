"""Physical-plan regression gates: the optimizations the 100 TB posture
depends on must stay visible in `.explain` — map-literal enrich lookups, a
single fused Arrow UDF, column pruning to the scan, no sort-merge joins or
extra shuffles sneaking into the hot path."""

from __future__ import annotations

from pyspark.sql import functions as F

from beats_spark.data.transcripts import load_transcripts
from beats_spark.pipeline import full_pipeline

from .conftest import SF_SMOKE


def _formatted_plan(df) -> str:
    jdf = df._jdf
    spark = df.sparkSession
    # earlier test modules may have cached overlapping plan fragments,
    # which would swap scans for InMemoryTableScan in these plans
    spark.catalog.clearCache()
    spark.conf.set("spark.sql.debug.maxToStringFields", "2000")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return jdf.queryExecution().explainString(mode)


def _nodes(plan: str) -> list[str]:
    """Operator names from the formatted plan's detail section —
    '(n) NodeName' lines (each node appears once there)."""
    import re

    return [m.group(1) for m in re.finditer(r"^\(\d+\) (\w+)", plan, re.M)]


def test_pipeline_plan_shape(spark):
    plan = _formatted_plan(full_pipeline(spark, SF_SMOKE))
    nodes = _nodes(plan)
    # lookups are map literals inside the fact-side projection: no join,
    # no broadcast, no driver-built lookup relation
    for node in ("BroadcastHashJoin", "SortMergeJoin", "BroadcastExchange"):
        assert node not in nodes, node
    assert "Scan ExistingRDD" not in plan
    # the whole grok bank runs as ONE fused Arrow UDF stage
    assert nodes.count("ArrowEvalPython") == 1
    # one shuffle exchange: the derivation window (a real transcript table
    # needs none). Another = stage-chain regression.
    assert nodes.count("Exchange") == 1


def test_column_pruning_reaches_scan(spark):
    pruned = load_transcripts(spark, SF_SMOKE).select("conv_id", "turn_idx")
    plan = _formatted_plan(pruned)
    # only the columns the derivation needs for these outputs are read
    read = [line for line in plan.splitlines() if "ReadSchema" in line][0]
    assert "event_type" not in read and "props" not in read
    assert "user_id" in read


def test_broadcast_threshold_not_disabled(spark):
    assert int(spark.conf.get("spark.sql.autoBroadcastJoinThreshold")) > 0
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


def test_no_expand_in_distinct_aggregates(spark):
    # exact-distinct counts go through the mid-grain two-stage shape; the
    # countDistinct rewrite's Expand node (row-multiplying) must not return
    from beats_spark.pipeline import sink_aggregates
    from beats_spark.queries import QUERIES

    routed = full_pipeline(spark, SF_SMOKE)
    for name, df in {
        "sink_aggregates": sink_aggregates(routed),
        "flows_window": QUERIES["flows_window"](spark, SF_SMOKE),
        "fingerprint": QUERIES["fingerprint"](spark, SF_SMOKE),
    }.items():
        nodes = _nodes(_formatted_plan(df))
        assert "Expand" not in nodes, f"{name} regressed to a distinct Expand"


def test_ivf_no_driver_collect(spark):
    # building the IVF plan must trigger zero jobs — the round-1 version
    # collect()ed every vector id at centroid-pick time
    import pyspark.sql.functions as SF

    from beats_spark.similarity import ivf_topk

    vecs = spark.range(200).select(
        SF.col("id").alias("vec_id"),
        SF.array(*[SF.rand(seed=i + 1) for i in range(8)]).alias("embedding"),
    )
    queries = vecs.limit(3)
    tracker = spark.sparkContext.statusTracker()
    before = tracker.getJobIdsForGroup(None) or []
    out = ivf_topk(vecs, queries, k=5, n_cells=8, n_probe=3)
    _ = out.columns
    after = tracker.getJobIdsForGroup(None) or []
    assert len(after) == len(before)
    plan = _formatted_plan(out)
    assert "TakeOrderedAndProject" in plan  # distributed top-K centroid pick


def test_no_collect_in_hot_path(spark):
    # operator stages must be a single lazy DAG: after the source read
    # (whose schema inference runs one metadata job), building
    # parse→enrich→route triggers ZERO jobs — a collect()/count() hiding in
    # an operator would show up here
    from beats_spark.pipeline import enrich_stage, parse_stage, route_stage

    tdf = load_transcripts(spark, SF_SMOKE)  # read + schema job allowed
    tracker = spark.sparkContext.statusTracker()
    before = tracker.getJobIdsForGroup(None) or []
    routed = route_stage(enrich_stage(parse_stage(tdf)))
    _ = routed.columns
    after = tracker.getJobIdsForGroup(None) or []
    assert len(after) == len(before)


def test_prefix_filter_plan_shape(spark):
    import beats_spark.dedup as D

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    nodes = _nodes(_formatted_plan(
        D.prefix_filter_jaccard_pairs(docs, threshold=0.5)
    ))
    # exact similarity join must stay bucketed equi-joins: never a cartesian
    # product, never a Python stage, no sort-merge join at test scale
    assert "CartesianProduct" not in nodes
    assert "BroadcastNestedLoopJoin" not in nodes
    assert "ArrowEvalPython" not in nodes
    assert "BatchEvalPython" not in nodes
    assert "SortMergeJoin" not in nodes


def test_doc_fingerprint_map_only(spark):
    # the shingle-min must stay a map-only aggregate() fold: no exchange,
    # no join-back, no Generate — the A/B'd winner for 1-hash-per-position
    # work (see doc_fingerprint docstring; the explode+partial-min shape
    # measured 3.0 s vs the fold's 2.2 s warm at sf0.1, and the
    # array_min(transform(...)) shape materializes the full hash array)
    from beats_spark.textops import doc_fingerprint

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    plan = _formatted_plan(doc_fingerprint(docs).select("doc_id", "doc_fp"))
    assert "array_min" not in plan  # no hash-array materialization
    nodes = _nodes(plan)
    assert "Exchange" not in nodes
    assert "Generate" not in nodes
    assert not any("Join" in n for n in nodes)
    assert "aggregate(" in plan  # the fold


def test_ngram_candidates_carry_no_arrays(spark):
    # band-join + candidate-dedup exchanges must move bare id pairs only;
    # gram arrays are joined back by id for the verify, never shuffled
    # with the candidates
    import re

    import beats_spark.dedup as D

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    plan = _formatted_plan(D.ngram_jaccard_pairs(docs))
    blocks = re.split(r"^(?=\(\d+\) )", plan, flags=re.M)
    band_exchanges = [
        b for b in blocks
        if b.startswith("(") and "Exchange" in b.splitlines()[0]
        and "band" in b and "bhash" in b
    ]
    dedup_exchanges = [
        b for b in blocks
        if b.startswith("(") and "Exchange" in b.splitlines()[0]
        and "id_a" in b and "id_b" in b
    ]
    assert band_exchanges and dedup_exchanges
    for b in band_exchanges + dedup_exchanges:
        assert "_g" not in b and "g_a" not in b and "g_b" not in b, b


def _make_vecs(spark, n=60, dim=8):
    import pyspark.sql.functions as SF

    return spark.range(n).select(
        SF.col("id").alias("vec_id"),
        SF.array(*[SF.rand(seed=i + 1) for i in range(dim)]).alias("embedding"),
    )


def test_ivf_assign_no_window_sort(spark):
    # nearest-cell pick must be the max_by aggregate (map-side partials,
    # |V|-row exchange), not a row_number window over |V|×n_cells rows
    from beats_spark.similarity import ivf_topk

    vecs = _make_vecs(spark)
    out = ivf_topk(vecs, vecs.limit(2), k=3, n_cells=4, n_probe=2)
    plan = _formatted_plan(out)
    # exactly the two top-k windows survive (query probe + final rank);
    # the vector-assignment window is gone
    nodes = _nodes(plan)
    assert nodes.count("Window") <= 2
    assert "max_by" in plan


def test_lsh_candidates_carry_no_vectors(spark):
    # bucket joins + cross-table dedup move bare id pairs; embeddings join
    # back by id for scoring only
    import re

    from beats_spark.similarity import lsh_topk

    vecs = _make_vecs(spark)
    plan = _formatted_plan(
        lsh_topk(vecs, vecs.limit(2), k=3, n_planes=4, n_tables=2,
                 plane_id_start=0)
    )
    blocks = re.split(r"^(?=\(\d+\) )", plan, flags=re.M)
    dedup_exchanges = [
        b for b in blocks
        if b.startswith("(") and "Exchange" in b.splitlines()[0]
        and "query_id" in b and "neighbor_id" in b
    ]
    assert dedup_exchanges
    for b in dedup_exchanges:
        assert "_qvec" not in b and "_vvec" not in b, b


def test_connected_components_is_driver_light(spark):
    # the CC loop's driver traffic must stay a 2-value fingerprint per
    # round — the component assignment itself is never collected
    import inspect

    from beats_spark import graph

    src = inspect.getsource(graph)
    assert src.count("collect()") == 1  # only the fingerprint agg
    assert "toPandas" not in src


def test_decontaminate_broadcasts_probe(spark):
    import beats_spark.dedup as D

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    probe = docs.where("doc_id % 7 = 0")
    plan = _formatted_plan(D.decontaminate(docs, probe, n=13))
    nodes = _nodes(plan)
    # the probe (benchmark) side must reach the membership test as a
    # broadcast: the 100 TB corpus side is never shuffled for the semi-join
    assert "BroadcastHashJoin" in nodes
    assert "SortMergeJoin" not in nodes
    assert "CartesianProduct" not in nodes
    # gram payloads travel as xxhash64 longs, not strings
    assert "xxhash64" in plan


def test_curation_scrubbers_map_only(spark):
    # pii_redact / c4_clean / url_blocklist_flag are corpus scrubbers that
    # run before anything else in a training-data pipeline: at 100 TB they
    # must stay single-pass map-only scans — no exchange, no join, no
    # Python, blocklist/patterns compiled into the plan
    from beats_spark.textops import c4_clean, pii_redact, url_blocklist_flag

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    for op in (pii_redact, c4_clean, url_blocklist_flag):
        nodes = _nodes(_formatted_plan(op(docs)))
        assert "Exchange" not in nodes, op.__name__
        assert not any("Join" in n for n in nodes), op.__name__
        assert not any("Python" in n for n in nodes), op.__name__


def test_span_dedup_text_never_shuffles(spark):
    # the first-occurrence resolution and removal-index aggregation must
    # exchange bare (hash, id, idx) rows — neither the sentence array nor
    # the text column may ride any shuffle; text joins back BY ID only
    import re

    import beats_spark.dedup as D

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    plan = _formatted_plan(
        D.span_dedup(docs).select("doc_id", "n_removed", "deduped")
    )
    blocks = re.split(r"^(?=\(\d+\) )", plan, flags=re.M)
    exchanges = [
        b for b in blocks
        if b.startswith("(") and "Exchange" in b.splitlines()[0]
        and "broadcast" not in b.splitlines()[0]
    ]
    assert exchanges  # the op does shuffle — just never the text
    for b in exchanges:
        assert "_sents" not in b and "text" not in b, b


def test_curation_funnel_plan(spark):
    # end-to-end funnel: one Arrow UDF stage (NFC normalize), no cartesian
    # products, no row-at-a-time Python (BatchEvalPython), and the dedup
    # reps aggregation exchanges bare (hash, id) pairs — never `cleaned`
    import re

    from beats_spark.queries import QUERIES

    plan = _formatted_plan(QUERIES["curation_funnel"](spark, SF_SMOKE))
    nodes = _nodes(plan)
    assert "CartesianProduct" not in nodes
    assert "BatchEvalPython" not in nodes
    blocks = re.split(r"^(?=\(\d+\) )", plan, flags=re.M)
    rep_exchanges = [
        b for b in blocks
        if b.startswith("(") and "Exchange" in b.splitlines()[0]
        and "_k" in b and "broadcast" not in b.splitlines()[0]
    ]
    for b in rep_exchanges:
        assert "cleaned" not in b, b


def test_transcript_curation_plan_shape(spark):
    """transcript_curation: the PII bank must stay codegen (no Python eval
    node of any kind), and the only wide shuffle is the in-conversation
    dedup window keyed on (conv_id, md5) — plus the two tiny role-grain
    aggregate exchanges."""
    from beats_spark.queries import QUERIES

    df = QUERIES["transcript_curation"](spark, SF_SMOKE)
    plan = _formatted_plan(df)
    nodes = _nodes(plan)
    assert "BatchEvalPython" not in nodes
    assert "ArrowEvalPython" not in nodes
    assert "SortMergeJoin" not in nodes
    # window shuffle carries the md5 dedup key next to conv_id
    assert "hashpartitioning(conv_id" in plan and "md5" in plan
    # derivation window + dedup window + 2 role-agg exchanges, nothing more
    assert nodes.count("Exchange") <= 4


def test_transcript_pack_text_never_shuffles(spark):
    """transcript_pack: the conversation rollup and the applyInPandas pack
    must exchange only bare keys/counts — the turn text stays in the scan
    stage (token counts are additive, so no concat is ever needed)."""
    from beats_spark.queries import QUERIES

    df = QUERIES["transcript_pack"](spark, SF_SMOKE)
    plan = _formatted_plan(df)
    import re

    for m in re.finditer(r"Arguments: hashpartitioning\(([^)]*)\)", plan):
        assert "text" not in m.group(1)
    # exactly one Arrow-grouped stage (the packer), no row-at-a-time Python
    nodes = _nodes(plan)
    assert "BatchEvalPython" not in nodes
    assert nodes.count("FlatMapGroupsInPandas") == 1


def test_token_vocab_is_two_phase_topk(spark):
    """token_vocab: the Zipfian token histogram must pre-sum map-side
    (partial HashAggregate before the exchange) and take the top-k with a
    bounded heap (TakeOrderedAndProject), never a global Sort."""
    from beats_spark.queries import QUERIES

    df = QUERIES["token_vocab"](spark, SF_SMOKE)
    nodes = _nodes(_formatted_plan(df))
    assert nodes.count("HashAggregate") == 2  # partial + final
    assert nodes.count("Exchange") == 1       # one token-keyed shuffle
    assert "TakeOrderedAndProject" in nodes
    assert "Sort" not in nodes


def test_conv_quality_agg_reuses_window_partitioning(spark):
    """conv_quality: the per-conv aggregate must run on the lag window's
    conv_id partitioning — exchanges appear only BEFORE the windows (the
    derivation's row_number + the lag), never between window and agg."""
    from beats_spark.queries import QUERIES

    df = QUERIES["conv_quality"](spark, SF_SMOKE)
    nodes = _nodes(_formatted_plan(df))
    assert nodes.count("Exchange") == 2
    last_window = max(i for i, n in enumerate(nodes) if n == "Window")
    assert "Exchange" not in nodes[last_window:]
    assert "BatchEvalPython" not in nodes


def test_bpe_pairs_explodes_only_the_vocab(spark):
    """bpe_pairs: the corpus-scale stage is ONE word-keyed shuffle with a
    map-side partial aggregate; the pair explosion (Generate) must sit
    ABOVE that aggregate — on the vocab-sized table — never on the raw
    corpus. Top-k via bounded heap, no global Sort."""
    from beats_spark.queries import QUERIES

    df = QUERIES["bpe_pairs"](spark, SF_SMOKE)
    plan = _formatted_plan(df)
    nodes = _nodes(plan)
    assert "TakeOrderedAndProject" in nodes and "Sort" not in nodes
    # two Generates: corpus token explode (below the word agg) and the
    # pair explode; the PAIR one must come after the first HashAggregate
    gen_idx = [i for i, n in enumerate(nodes) if n == "Generate"]
    agg_idx = [i for i, n in enumerate(nodes) if n == "HashAggregate"]
    assert len(gen_idx) == 2
    assert min(agg_idx) < max(gen_idx)  # pair explode above the word agg
    assert "BatchEvalPython" not in nodes and "ArrowEvalPython" not in nodes


def test_temperature_mix_is_broadcast_map_only(spark):
    """temperature_mix decision pass: the rate table joins by BROADCAST
    (never shuffling the corpus on the group key) and the decision is
    pure codegen — no Python, no extra exchange."""
    from beats_spark.sampling import temperature_mix

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    nodes = _nodes(_formatted_plan(temperature_mix(docs, budget=100)))
    assert "BroadcastHashJoin" in nodes
    assert "SortMergeJoin" not in nodes
    assert "Exchange" not in nodes  # corpus side never repartitions
    assert "BatchEvalPython" not in nodes and "ArrowEvalPython" not in nodes


def test_substr_dedup_resolution_carries_no_text(spark):
    """substr_dedup: the window-hash resolution exchanges carry bare
    (hash, id, pos) triples; text rides only the final by-id join-back
    (broadcast or single hash exchange)."""
    from beats_spark.dedup import exact_substr_dedup

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    plan = _formatted_plan(exact_substr_dedup(docs, window=8))
    text_exchanges = [
        line for line in plan.splitlines()
        if "Exchange hashpartitioning" in line and "text" in line
    ]
    assert len(text_exchanges) <= 1
    assert "CartesianProduct" not in _nodes(plan)


def test_rrf_search_legs_end_in_bounded_topk(spark):
    """rrf_search: both retrieval legs end in TakeOrderedAndProject (the
    fused ranking included) — never a global Sort of the corpus."""
    from beats_spark.queries import QUERIES

    df = QUERIES["rrf_search"](spark, SF_SMOKE)
    nodes = _nodes(_formatted_plan(df))
    assert nodes.count("TakeOrderedAndProject") >= 2
    assert "CartesianProduct" not in nodes


def test_winnow_fingerprint_is_map_only(spark):
    """winnow_fingerprint: shingle hashing + window minima are pure
    in-array expressions — the per-doc query has NO exchange and no
    Python anywhere."""
    from beats_spark.queries import QUERIES

    nodes = _nodes(_formatted_plan(QUERIES["winnow_fingerprint"](spark, SF_SMOKE)))
    assert "Exchange" not in nodes
    assert "BatchEvalPython" not in nodes and "ArrowEvalPython" not in nodes


def test_url_canonical_single_shuffle(spark):
    """url_canonical: canonicalization is map-side; the only exchange is
    the canon-url groupBy (with a partial aggregate below it)."""
    from beats_spark.queries import QUERIES

    nodes = _nodes(_formatted_plan(QUERIES["url_canonical"](spark, SF_SMOKE)))
    assert nodes.count("Exchange") == 1
    assert nodes.count("HashAggregate") == 2
    assert "BatchEvalPython" not in nodes and "ArrowEvalPython" not in nodes


def test_kafka_partition_plan_udf_free_single_agg(spark):
    # the FNV-32a fold must be pure Column expressions: no Python UDF node
    # (would break the no-per-row-Python rule), and the whole query is one
    # map pass + one 12-group aggregate
    from beats_spark.queries import QUERIES

    plan = _formatted_plan(QUERIES["kafka_partition"](spark, SF_SMOKE))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_script_chain_plan_stays_column_level(spark):
    # the script-program composition surface chains REGISTERED operators
    # (uppercase/copy_fields/drop_event are all Column-level), so compiling
    # them through a `script: {processors: [...]}` block must not introduce
    # a Python eval node or an extra shuffle: one exchange (the role_u
    # groupBy) with a partial aggregate below it, plus the derivation
    # window's exchange from load_transcripts at smoke SF
    from beats_spark.queries import QUERIES

    nodes = _nodes(_formatted_plan(QUERIES["script_chain"](spark, SF_SMOKE)))
    assert "BatchEvalPython" not in nodes and "ArrowEvalPython" not in nodes
    assert "CartesianProduct" not in nodes
    assert nodes.count("HashAggregate") == 2


def test_r5_operator_promotions_stay_jvm_side(spark):
    """csv_extract / duration_parse / kv_parse / url_codec: the split /
    regexp / map_from_entries / url codec operators are pure Column
    expressions — the per-row queries carry NO Python eval node and no
    join; the only exchange is the transcript derivation window."""
    from beats_spark.queries import QUERIES

    for name in ["csv_extract", "duration_parse", "kv_parse", "url_codec"]:
        nodes = _nodes(_formatted_plan(QUERIES[name](spark, SF_SMOKE)))
        assert "BatchEvalPython" not in nodes, name
        assert "ArrowEvalPython" not in nodes, name
        assert "SortMergeJoin" not in nodes and "CartesianProduct" not in nodes, name
        # derivation window's exchange only — the operators themselves are
        # map-side
        assert nodes.count("Exchange") <= 1, name


def test_mime_detect_sniffs_in_codegen(spark):
    """detect_media_type is a hex-prefix CASE — codegen, not Python. The
    only Python node is synthesize_media's builder (mapInPandas by
    design); one exchange for the mime groupBy."""
    from beats_spark.queries import QUERIES

    nodes = _nodes(_formatted_plan(QUERIES["mime_detect"](spark, SF_SMOKE)))
    assert nodes.count("ArrowEvalPython") + nodes.count("MapInPandas") == 1
    assert nodes.count("Exchange") == 1
    assert nodes.count("HashAggregate") == 2  # partial + final


def test_field_projection_stays_column_level(spark):
    """move_fields/drop_fields/include_fields are pure struct/column
    surgery — no Python eval, no join, only the derivation window's
    exchange."""
    from beats_spark.queries import QUERIES

    nodes = _nodes(_formatted_plan(QUERIES["field_projection"](spark, SF_SMOKE)))
    assert "BatchEvalPython" not in nodes and "ArrowEvalPython" not in nodes
    assert "SortMergeJoin" not in nodes and "CartesianProduct" not in nodes
    assert nodes.count("Exchange") <= 1


def test_metadata_stamp_broadcasts_the_global_count(spark):
    """The 1-row global distinct-instance aggregate must ride in on a
    broadcast nested-loop join — never a shuffle of the per-group side —
    and the instance hash is codegen (xxhash64), not Python."""
    from beats_spark.queries import QUERIES

    nodes = _nodes(_formatted_plan(QUERIES["metadata_stamp"](spark, SF_SMOKE)))
    assert "BroadcastNestedLoopJoin" in nodes
    assert "SortMergeJoin" not in nodes and "CartesianProduct" not in nodes
    assert "BatchEvalPython" not in nodes and "ArrowEvalPython" not in nodes


def test_container_and_stamp_queries_stay_vectorized(spark):
    """event_stamp is pure Column expressions (no Python at all);
    container_parse's docker branch is from_json but its CRI branch rides
    the grok bank — exactly ONE fused Arrow UDF, never row-at-a-time
    Python. Neither query joins or shuffles beyond the derivation
    window's exchange."""
    from beats_spark.queries import QUERIES

    for name, arrow_budget in [("container_parse", 1), ("event_stamp", 0)]:
        nodes = _nodes(_formatted_plan(QUERIES[name](spark, SF_SMOKE)))
        assert "BatchEvalPython" not in nodes, name
        assert nodes.count("ArrowEvalPython") <= arrow_budget, name
        assert "SortMergeJoin" not in nodes and "CartesianProduct" not in nodes, name
        assert nodes.count("Exchange") <= 1, name


def test_cache_enrich_broadcasts_the_cache(spark):
    """cache_get must broadcast the (tiny) cache table — never shuffle the
    probe side into a sort-merge join."""
    from beats_spark.queries import QUERIES

    nodes = _nodes(_formatted_plan(QUERIES["cache_enrich"](spark, SF_SMOKE)))
    assert "BroadcastHashJoin" in nodes
    assert "SortMergeJoin" not in nodes


def test_dns_enrich_broadcasts_the_snapshot(spark):
    """dns_enrich must broadcast the resolver snapshot — the fact side
    never shuffles through the lookup, and no per-row Python appears
    anywhere in the plan (the reference's per-event resolver call is
    exactly what a 1000-executor job must not do)."""
    from beats_spark.queries import QUERIES

    nodes = _nodes(_formatted_plan(QUERIES["dns_enrich"](spark, SF_SMOKE)))
    assert "BroadcastHashJoin" in nodes
    assert "SortMergeJoin" not in nodes
    assert not any("Python" in n or "Arrow" in n for n in nodes)


def test_cdc_chunks_is_map_only(spark):
    """Content-defined chunking must stay map-only: per-position hashing
    and chunk slicing are in-array expressions — no exchange, join, or
    Python anywhere in the plan."""
    from beats_spark.queries import QUERIES

    nodes = _nodes(_formatted_plan(QUERIES["cdc_chunks"](spark, SF_SMOKE)))
    assert "Exchange" not in nodes
    assert not any("Join" in n for n in nodes)
    assert not any("Python" in n or "Arrow" in n for n in nodes)


def test_hash_split_is_map_only_single_agg(spark):
    """hash_split must stay a codegen CASE chain: one Exchange for the
    final groupBy, no joins, no Python anywhere."""
    from beats_spark.queries import QUERIES

    nodes = _nodes(_formatted_plan(QUERIES["hash_split"](spark, SF_SMOKE)))
    assert nodes.count("Exchange") == 1
    assert not any("Join" in n for n in nodes)
    assert not any("Python" in n or "Arrow" in n for n in nodes)


def test_ngram_topk_bounded_heap_no_global_sort(spark):
    """Corpus top-k must compile to TakeOrderedAndProject (bounded
    per-partition heaps) — a global Sort node would materialize the whole
    vocabulary ordered."""
    from beats_spark.queries import QUERIES

    nodes = _nodes(_formatted_plan(QUERIES["ngram_topk"](spark, SF_SMOKE)))
    assert "TakeOrderedAndProject" in nodes
    assert "Sort" not in nodes
    assert not any("Python" in n or "Arrow" in n for n in nodes)


def test_tfidf_keywords_stays_jvm_side_single_corpus_scan(spark):
    """tf-idf ranking is joins + window over bare (id, term, counts) —
    no Python, no cartesian/broadcast-nested-loop blowup — and the
    corpus is scanned ONCE: the tf table is materialized (lineage cut)
    and document frequency re-aggregates it, so the final plan reads the
    checkpointed RDD twice and parquet zero times. A parquet scan
    reappearing here means the df branch went back to re-reading the
    100 TB side."""
    from beats_spark.queries import QUERIES

    plan = _formatted_plan(QUERIES["tfidf_keywords"](spark, SF_SMOKE))
    nodes = _nodes(plan)
    assert not any("Python" in n or "Arrow" in n for n in nodes)
    assert "CartesianProduct" not in nodes
    assert "BroadcastNestedLoopJoin" not in nodes
    assert plan.count("Scan parquet") == 0


def test_bloom_decontaminate_corpus_never_shuffles(spark):
    """The Bloom membership test must ride a ONE-ROW broadcast
    nested-loop join (the bitmap) with the corpus side map-only until the
    final two-row aggregate: no Generate (gram explode) of the corpus
    side, no Python, exactly the one agg Exchange."""
    from beats_spark.queries import QUERIES

    nodes = _nodes(_formatted_plan(
        QUERIES["bloom_decontaminate"](spark, SF_SMOKE)))
    assert "BroadcastNestedLoopJoin" in nodes
    assert "Generate" not in nodes
    assert not any("Python" in n or "Arrow" in n for n in nodes)
    assert nodes.count("Exchange") == 1
    assert "SortMergeJoin" not in nodes


def test_strip_boilerplate_text_never_rides_frequency_exchange(spark):
    """strip_boilerplate: the line-frequency and removed-hash-set
    aggregations exchange bare (hash, id) columns; text rides at most the
    final by-id join-back — and nothing goes through Python."""
    from beats_spark.queries import QUERIES

    plan = _formatted_plan(QUERIES["strip_boilerplate"](spark, SF_SMOKE))
    nodes = _nodes(plan)
    text_exchanges = [
        line for line in plan.splitlines()
        if "Exchange hashpartitioning" in line and "text" in line
    ]
    assert len(text_exchanges) == 0
    assert not any("Python" in n or "Arrow" in n for n in nodes)
    assert "CartesianProduct" not in nodes
    assert "SortMergeJoin" not in nodes


def test_containment_pairs_no_cross_join_arrays_off_exchange(spark):
    """Containment candidates ride the prefix-token equi-join as bare
    (id, size) rows; gram arrays join back BY ID for the verify — no
    cartesian product, no Python."""
    from beats_spark.queries import QUERIES

    plan = _formatted_plan(QUERIES["containment_pairs"](spark, SF_SMOKE))
    nodes = _nodes(plan)
    assert "CartesianProduct" not in nodes
    assert "BroadcastNestedLoopJoin" not in nodes
    assert not any("Python" in n or "Arrow" in n for n in nodes)
