"""Pipeline compiler: Beats-style processor config → DataFrame program.

The reference's "query compiler" (SURVEY.md §3.2) turns YAML into an ordered
processor list executed serially per event (reference:
/root/reference/libbeat/processors/processor.go:65-119 construction,
166-179 execution; `when:` wrapping conditionals.go:79-98; `if/then/else`
conditionals.go:100-161). This module is the Spark restatement: the same
config dicts compile to an ordered chain of DataFrame transforms — program
order becomes column-dependency order, and Catalyst is the optimizer.

    program = compile_pipeline([
        {"dissect": {"tokenizer": "%{ip} %{verb}", "field": "text"}},
        {"drop_event": {"when": {"equals": {"role": "system"}}}},
        {"add_fields": {"fields": {"env": "prod"}, "when": {...}}},
        {"if": {...}, "then": [...], "else": [...]},
    ])
    out = program(df)

`when:` on a column-writing processor is implemented by stashing the
affected columns and conditionally restoring them (per-row conditional
apply, exactly the reference's WhenProcessor semantics) — still pure Column
expressions, no Python. Row-cardinality processors (ratelimit, sample)
cannot be row-conditional and raise, matching what a shipper config would
express differently anyway.
"""

from __future__ import annotations

from typing import Any, Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from beats_spark.conditions import compile_condition
from beats_spark.operators import enrich as E
from beats_spark.operators import filter as FL
from beats_spark.operators import misc as MISC
from beats_spark.operators import network as NET
from beats_spark.operators import parse as P

Transform = Callable[[DataFrame], DataFrame]


class CompileError(ValueError):
    pass


def _pairs(cfg: dict) -> list[tuple[str, str]]:
    return [(d["from"], d["to"]) for d in cfg["fields"]]


# name -> (builder(cfg) -> Transform, supports_when)
_REGISTRY: dict[str, tuple[Callable[[dict], Transform], bool]] = {}


def register_processor(name: str, supports_when: bool = True):
    def deco(builder):
        _REGISTRY[name] = (builder, supports_when)
        return builder

    return deco


# -- parse -------------------------------------------------------------------

register_processor("dissect")(lambda c: lambda df: P.dissect(
    df, c["tokenizer"], field=c.get("field", "message"),
    target_prefix=c.get("target_prefix", "dissect"),
    trim_values=c.get("trim_values", "none"), trim_chars=c.get("trim_chars", " ")))
register_processor("grok")(lambda c: lambda df: P.grok(
    df, c["patterns"], field=c.get("field", "message"),
    target_prefix=c.get("target_prefix", "grok"),
    pattern_definitions=c.get("pattern_definitions")))
register_processor("syslog")(lambda c: lambda df: MISC.syslog(
    df, field=c.get("field", "message"),
    target_prefix=c.get("target_prefix", "syslog")))
register_processor("decode_json_fields")(lambda c: lambda df: P.decode_json_fields(
    df, c["fields"], schema=c.get("schema", "map<string,string>"),
    target=c.get("target")))
register_processor("decode_csv_fields")(lambda c: lambda df: P.decode_csv_fields(
    df, c["field"], c["target"], separator=c.get("separator", ",")))
register_processor("decode_base64_field")(lambda c: lambda df: P.decode_base64_field(
    df, c["field"], c.get("target", c["field"])))
register_processor("decompress_gzip_field")(lambda c: lambda df:
    MISC.decompress_gzip_field(df, c["field"], c.get("target")))
register_processor("urldecode")(lambda c: lambda df: P.urldecode(
    df, c["field"], c.get("target")))
register_processor("extract_field")(lambda c: lambda df: P.extract_field(
    df, c["field"], c["separator"], c["index"], c["target"]))
register_processor("extract_array")(lambda c: lambda df: P.extract_array(
    df, c["field"], c["mappings"]))
register_processor("decode_duration")(lambda c: lambda df: P.decode_duration(
    df, c["field"], c.get("target", c["field"]), unit=c.get("unit", "ms")))
register_processor("timestamp")(lambda c: lambda df: P.timestamp(
    df, c["field"], c["layouts"], target=c.get("target", "ts"),
    timezone=c.get("timezone")))
register_processor("convert")(lambda c: lambda df: P.convert(
    df, c["fields"], ignore_missing=c.get("ignore_missing", False)))
register_processor("decode_xml")(lambda c: lambda df: P.decode_xml(
    df, c["field"], target=c.get("target_field"),
    to_lower=c.get("to_lower", False),
    ignore_failure=c.get("ignore_failure", False),
    schema=c.get("schema")))
register_processor("decode_xml_wineventlog")(lambda c: lambda df:
    P.decode_xml_wineventlog(
        df, c["field"], target=c.get("target_field", "winlog"),
        map_ecs_fields=c.get("map_ecs_fields", True),
        ignore_failure=c.get("ignore_failure", False)))
register_processor("kv")(lambda c: lambda df: P.kv(
    df, c["field"], c["field_split"], c["value_split"],
    target=c.get("target_field", "kv")))

# -- enrich ------------------------------------------------------------------

register_processor("add_fields")(lambda c: lambda df: E.add_fields(
    df, c["fields"], target=c.get("target", "fields")))
register_processor("add_labels")(lambda c: lambda df: E.add_labels(df, c["labels"]))
register_processor("add_tags")(lambda c: lambda df: E.add_tags(
    df, c["tags"], target=c.get("target", "tags")))
register_processor("append")(lambda c: lambda df: E.append_fields(
    df, c["target_field"], values=c.get("values"), fields=c.get("fields"),
    allow_duplicate=c.get("allow_duplicate", True),
    ignore_empty=c.get("ignore_empty_values", False)))
register_processor("rename")(lambda c: lambda df: E.rename_fields(df, _pairs(c)))
register_processor("copy_fields")(lambda c: lambda df: E.copy_fields(df, _pairs(c)))
register_processor("move_fields")(lambda c: lambda df: MISC.move_fields(
    df, c["fields"], c.get("from", ""), c.get("to", "")))
register_processor("replace")(lambda c: lambda df: E.replace_fields(df, c["fields"]))
register_processor("truncate_fields")(lambda c: lambda df: E.truncate_fields(
    df, c["fields"], c["max_characters"]))
register_processor("lowercase")(lambda c: lambda df: E.lowercase_fields(df, c["fields"]))
register_processor("uppercase")(lambda c: lambda df: E.uppercase_fields(df, c["fields"]))
register_processor("fingerprint")(lambda c: lambda df: E.fingerprint(
    df, c["fields"], target=c.get("target_field", "fingerprint"),
    method=c.get("method", "sha256")))
register_processor("add_id")(lambda c: lambda df: E.add_id(
    df, target=c.get("target_field", "_id"), key_fields=c.get("key_fields")))
register_processor("add_locale")(lambda c: lambda df: E.add_locale(
    df, tz=c.get("timezone", "UTC")))
register_processor("add_network_direction")(lambda c: lambda df:
    E.add_network_direction(df, c["source"], c["destination"],
                            c["internal_networks"], target=c.get("target",
                                                                 "network_direction")))
register_processor("add_formatted_index")(lambda c: lambda df:
    E.add_formatted_index(df, c["index"], ts_field=c.get("ts_field", "ts")))
register_processor("timeseries")(lambda c: lambda df: E.timeseries_instance(
    df, c["dimensions"]))
register_processor("community_id")(lambda c: lambda df: NET.community_id(
    df, source_ip=c.get("source_ip", "source_ip"),
    source_port=c.get("source_port", "source_port"),
    destination_ip=c.get("destination_ip", "destination_ip"),
    destination_port=c.get("destination_port", "destination_port"),
    transport=c.get("transport", "transport"),
    icmp_type=c.get("icmp_type"), icmp_code=c.get("icmp_code"),
    seed=c.get("seed", 0), target=c.get("target", "community_id")))
register_processor("registered_domain")(lambda c: lambda df: NET.registered_domain(
    df, c["field"], target=c.get("target_field", "registered_domain"),
    subdomain_target=c.get("target_subdomain_field"),
    etld_target=c.get("target_etld_field")))

# -- filter / drop -----------------------------------------------------------

register_processor("drop_fields")(lambda c: lambda df: FL.drop_fields(
    df, c["fields"], ignore_missing=c.get("ignore_missing", True)))
register_processor("include_fields")(lambda c: lambda df: FL.include_fields(
    df, c["fields"], mandatory=c.get("mandatory")))
register_processor("ratelimit", supports_when=False)(lambda c: lambda df:
    FL.ratelimit(df, c["limit"], c["fields"], window=c.get("window", "1 minute")))
register_processor("sample", supports_when=False)(lambda c: lambda df:
    FL.sample(df, c["fraction"], c["fields"]))


# drop_event is special-cased (its whole semantics IS the `when`)


def _conditional_apply(op: Transform, cond_cfg: dict) -> Transform:
    """WhenProcessor semantics: rows failing the condition pass through
    untouched; rows matching get the processor's writes. Implemented by
    stashing pre-images and conditionally restoring — pure Column exprs."""

    def run(df: DataFrame) -> DataFrame:
        cond = compile_condition(cond_cfg, df)
        marked = df.withColumn("_when", cond)
        stashes = {c: f"_stash_{c}" for c in df.columns}
        for c, s in stashes.items():
            marked = marked.withColumn(s, F.col(c))
        out = op(marked)
        if "_when" not in out.columns:
            raise CompileError(
                "processor under `when` changed row shape; use if/then or a "
                "top-level filter instead"
            )
        for c in out.columns:
            if c.startswith("_stash_") or c == "_when":
                continue
            if c in stashes:  # pre-existing column: restore on non-match
                out = out.withColumn(
                    c, F.when(F.col("_when"), F.col(c)).otherwise(F.col(stashes[c]))
                )
            else:  # newly added column: null on non-match
                out = out.withColumn(c, F.when(F.col("_when"), F.col(c)))
        for c, s in stashes.items():
            # column dropped/renamed away by the op (rename, drop_fields,
            # include_fields, move_fields): WhenProcessor semantics say
            # non-matching rows pass through UNTOUCHED, so restore their
            # pre-image; matching rows keep the op's removal (null).
            if c not in out.columns:
                out = out.withColumn(
                    c,
                    F.when(
                        F.col("_when"), F.lit(None).cast(df.schema[c].dataType)
                    ).otherwise(F.col(s)),
                )
        return out.drop("_when", *stashes.values())

    return run


def _and(a: dict | None, b: dict | None) -> dict | None:
    if a is None:
        return b
    if b is None:
        return a
    return {"and": [a, b]}


def _flatten(steps: list[dict], cond: dict | None) -> list[dict]:
    """Resolve if/then/else into a flat list of when-guarded steps —
    IfThenElseProcessor (conditionals.go:114-150) runs then-steps on
    matching events and else-steps on the rest; under an enclosing
    condition both AND with it."""
    out: list[dict] = []
    for step in steps:
        if "if" in step:
            inner = step["if"]
            out += _flatten(step.get("then", []), _and(cond, inner))
            out += _flatten(step.get("else", []), _and(cond, {"not": inner}))
            continue
        if cond is not None:
            if len(step) != 1:
                raise CompileError(
                    f"a processor step must have exactly one key, got {sorted(step)}"
                )
            (name, cfg), = step.items()
            cfg = dict(cfg) if isinstance(cfg, dict) else {}
            cfg["when"] = _and(cond, cfg.get("when"))
            step = {name: cfg}
        out.append(step)
    return out


def compile_step(step: dict[str, Any]) -> Transform:
    if "if" in step:
        flat = _flatten([step], None)
        transforms = [compile_step(s) for s in flat]

        def run(df: DataFrame) -> DataFrame:
            for t in transforms:
                df = t(df)
            return df

        return run

    if len(step) != 1:
        raise CompileError(
            f"a processor step must have exactly one key (the processor "
            f"name), got {sorted(step)} — reference rejects this too "
            f"(processor.go:82-89)"
        )
    (name, cfg), = step.items()
    cfg = dict(cfg) if isinstance(cfg, dict) else {}
    when = cfg.pop("when", None)

    if name == "drop_event":
        if when is None:
            raise CompileError("drop_event requires `when` (always-drop is a bug)")
        return lambda df, w=when: FL.drop_event(df, w)

    if name == "script":
        return _compile_script(cfg, when)

    if name not in _REGISTRY:
        raise CompileError(f"unknown processor {name!r}")
    builder, supports_when = _REGISTRY[name]
    op = builder(cfg)
    if when is None:
        return op
    if not supports_when:
        raise CompileError(f"{name!r} cannot be row-conditional (`when`)")
    return _conditional_apply(op, when)


def _compile_script(cfg: dict, when: dict | None) -> Transform:
    """Script-program composition surface (no JS engine).

    The reference's script processor runs goja JavaScript whose real power
    is composing REGISTERED native processors: the chain module hands the
    script a `Chain` builder with one constructor per registered plugin
    (javascript/module/processor/chain.go:43-58 newChainBuilder exposes
    registry.Registry.Constructors(); javascript.go:168-180 Run executes
    the built chain per event). Per-row JS is a deliberate non-goal here —
    a goja/JS engine would mean per-row Python, the one thing this engine
    bans — but the chain surface itself is first-class:

        {"script": {"processors": [{...}, {...}], "when": {...}}}

    compiles the inner steps through the SAME registry as top-level
    processors (nested scripts/if-then-else included). A `when` on the
    script ANDs into every inner step (WhenProcessor semantics per step via
    _flatten) so row-shape-changing steps like drop_event stay legal inside
    a guarded script. For custom columnar logic no registered processor
    expresses, `operators.misc.vectorized_script` is the escape hatch.
    """
    if "processors" not in cfg:
        if "source" in cfg or "file" in cfg or "files" in cfg or "lang" in cfg:
            raise CompileError(
                "script with JS source is not supported: per-row goja would "
                "violate the engine's no-per-row-Python rule. Express the "
                "script's processor chain as `script: {processors: [...]}` "
                "(the reference's chain-module surface) or use "
                "beats_spark.operators.misc.vectorized_script for custom "
                "columnar logic"
            )
        raise CompileError("script requires `processors: [...]`")
    steps = _flatten(list(cfg["processors"]), when)
    return compile_pipeline(steps)


def compile_pipeline(spec: list[dict]) -> Transform:
    """Ordered processor list → one DataFrame transform. Program order is
    preserved as column dependency order (never reordered — the reference
    executes serially and later processors see earlier writes)."""
    steps = [compile_step(s) for s in spec]

    def run(df: DataFrame) -> DataFrame:
        for s in steps:
            df = s(df)
        return df

    return run
