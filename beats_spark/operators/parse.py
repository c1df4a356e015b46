"""Parse operators: dissect, grok, decode_*, convert, timestamp.

Each operator is a function DataFrame → DataFrame. Pattern-bank parsers
(dissect/grok) run as Arrow-vectorized pandas UDFs returning a struct of raw
string captures — compiled once on the driver, shipped pickled to executors,
executed with `pandas.Series.str.extract` per batch (no per-row Python).
The Project that rebuilds their structs casts each typed capture with
`convert_col`, the convert lattice the `convert` processor compiles to.
Everything else is built-in Column expressions (JVM-side, whole-stage
codegen).

Reference processors:
- dissect: /root/reference/libbeat/processors/dissect/processor.go:34-148
- grok: filebeat module ingest pipelines, e.g.
  /root/reference/filebeat/module/apache/access/ingest/pipeline.yml:10-18
- decode_json_fields: .../actions/decode_json_fields.go:51-186
- decode_csv_fields: .../decode_csv_fields/decode_csv_fields.go:43-48
- decode_base64_field: .../actions/decode_base64_field.go:45-47
- decode_duration: .../decode_duration/decode_duration.go:40-41
- urldecode: .../urldecode/urldecode.go:40-47
- extract_field: .../actions/extract_field.go:50-53
- extract_array: .../extract_array/extract_array.go:37-42
- timestamp: .../timestamp/timestamp.go:160-167
- convert: .../convert/config.go:35-103
"""

from __future__ import annotations

import pandas as pd
from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from beats_spark.dissect import Dissector
from beats_spark.grok import CONVERT_SYNTAX, GrokBank

# flag appended on parse failure (reference FlagField handling,
# libbeat/beat/event.go:38 + dissect/processor.go:95-105)
DISSECT_FAIL_FLAG = "dissect_parsing_error"
GROK_FAIL_FLAG = "grok_parsing_error"
FLAGS_COL = "flags"


def convert_col(c: Column, dtype: str | None) -> Column:
    """The convert lattice (grok.CONVERT_SYNTAX) as one Column expression:
    string `c` as `dtype`, NULL where it lacks the type's syntax or leaves
    the type's range; `grok._convert_scalar` is its scalar twin. Only
    `try_` casts (ANSI mode); hex goes through `conv` behind a 16-digit
    guard, since `conv` raises on overflow."""
    if dtype not in CONVERT_SYNTAX:  # None / "string"
        return c
    syntax = f"^(?:{CONVERT_SYNTAX[dtype]})\\z"  # `$` also matches before a final \n
    if dtype in ("integer", "long"):
        hexd = F.regexp_extract(c, syntax, 2)
        as_hex = F.concat(F.regexp_extract(c, syntax, 1), F.conv(hexd, 16, 10))
        value = F.coalesce(
            c.try_cast(dtype),
            F.when(F.length(hexd).between(1, 16), as_hex.try_cast(dtype)),
        )
    elif dtype in ("float", "double"):
        # via double, as the scalar twin parses (float rounds the double)
        value = c.try_cast("double").cast(dtype)
    elif dtype == "boolean":
        value = F.lower(c).isin("1", "t", "true")
    else:  # ip
        value = c
    return F.when(c.rlike(syntax), value)


def convert_sql(expr: str, dtype: str | None) -> str:
    """`convert_col`'s DuckDB twin for the correctness oracles: string SQL
    `expr` as `dtype`, gated on the same `grok.CONVERT_SYNTAX`, since
    DuckDB's own TRY_CAST also reads `1.0` and `1_000` as integers and
    rejects `-0x10`. Hex goes through UBIGINT, which reads the 16 digits
    that fit; a float beyond float32 range is ±inf, as the double rounds."""
    if dtype not in CONVERT_SYNTAX:  # None / "string"
        return expr
    syntax = f"'^(?:{CONVERT_SYNTAX[dtype]})\\z'"
    bare = f"trim({expr}, ' ' || chr(9))"
    if dtype in ("integer", "long"):
        sql_type = "INTEGER" if dtype == "integer" else "BIGINT"
        hexd = f"regexp_extract({expr}, {syntax}, 2)"
        mag = f"CAST(TRY_CAST('0x' || {hexd} AS UBIGINT) AS HUGEINT)"
        sign = f"regexp_extract({expr}, {syntax}, 1)"
        value = (
            f"CASE WHEN {hexd} = '' THEN TRY_CAST({bare} AS {sql_type})"
            f" ELSE TRY_CAST(CASE WHEN {sign} = '-' THEN -{mag} ELSE {mag} END"
            f" AS {sql_type}) END"
        )
    elif dtype == "double":
        value = f"TRY_CAST({bare} AS DOUBLE)"
    elif dtype == "float":
        d = f"TRY_CAST({bare} AS DOUBLE)"
        value = (f"coalesce(TRY_CAST({d} AS FLOAT), CAST(CASE WHEN {d} > 0"
                 f" THEN 'inf' ELSE '-inf' END AS FLOAT))")
    elif dtype == "boolean":
        value = f"lower({expr}) IN ('1', 't', 'true')"
    else:  # ip
        value = expr
    return f"CASE WHEN regexp_matches({expr}, {syntax}) THEN {value} END"


def _safe(name: str) -> str:
    """Struct field names: ECS dot-paths become underscore names."""
    return name.replace(".", "_").replace("@", "_").replace("[", "_").replace("]", "")


ERROR_COL = "error"


def set_error(df: DataFrame, cond: Column, message: str | Column) -> DataFrame:
    """Populate the `error` struct column where cond holds — the
    SetErrorWithOption shape (libbeat/beat/event.go:303-316: failures write
    {message, type} under the reserved `error` key, existing value kept for
    non-failing rows). `message` may be a Column for per-row messages."""
    msg = message if isinstance(message, Column) else F.lit(message)
    new = F.struct(msg.alias("message"), F.lit("parse").alias("type"))
    if ERROR_COL in df.columns:
        return df.withColumn(
            ERROR_COL, F.when(cond, new).otherwise(F.col(ERROR_COL))
        )
    return df.withColumn(ERROR_COL, F.when(cond, new))


def add_flag(df: DataFrame, cond: Column, flag: str) -> DataFrame:
    """Append `flag` to the flags array where cond holds (creates the column
    if absent) — ≅ mapstr.AddTagsWithKey on log.flags."""
    base = (
        F.coalesce(F.col(FLAGS_COL), F.array().cast("array<string>"))
        if FLAGS_COL in df.columns
        else F.array().cast("array<string>")
    )
    return df.withColumn(
        FLAGS_COL,
        F.when(cond, F.array_union(base, F.array(F.lit(flag)))).otherwise(base),
    )


# -- dissect ------------------------------------------------------------------


def dissect(
    df: DataFrame,
    tokenizer: str,
    field: str = "message",
    target_prefix: str = "dissect",
    trim_values: str = "none",
    trim_chars: str = " ",
) -> DataFrame:
    """Apply a dissect tokenizer to `field`, emitting a struct column
    `target_prefix` with the tokenizer's static schema. Failed rows get a
    null struct and the dissect_parsing_error flag."""
    d = Dissector(tokenizer, trim_values=trim_values, trim_chars=trim_chars)
    if d.dynamic:
        return _dissect_dynamic(df, d, field, target_prefix)

    schema = T.StructType(
        [T.StructField(_safe(k), T.StringType(), True) for k in d.static_keys]
    )
    rename = {k: _safe(k) for k in d.static_keys}

    @F.pandas_udf(schema)
    def run(s):  # executed per Arrow batch; regex pre-compiled in `d`
        frame = d.dissect_frame(s)
        return frame.rename(columns=rename)

    tmp = "_dissect_raw"
    out = df.withColumn(tmp, run(F.col(field)))
    # a matched row's captures are at minimum empty strings, so a NULL raw
    # capture marks a failed parse (a typed key that does not convert is
    # NULL in a matched struct)
    failed = F.col(f"{tmp}.{_safe(d.static_keys[0])}").isNull()
    struct_expr = F.struct(*[
        convert_col(F.col(f"{tmp}.{_safe(k)}"), d.key_types[k]).alias(_safe(k))
        for k in d.static_keys
    ])
    out = out.withColumn(target_prefix, F.when(~failed, struct_expr))
    out = add_flag(out, failed, DISSECT_FAIL_FLAG)
    out = set_error(out, failed, f"dissect: tokenizer did not match {field}")
    return out.drop(tmp)


def _dissect_dynamic(df, d: Dissector, field, target_prefix) -> DataFrame:
    """Pointer/indirect tokenizers have data-dependent keys → MapType output;
    typed values are rendered as Spark's string cast of `convert_col`."""
    schema = T.StructType([
        T.StructField(n, T.MapType(T.StringType(), T.StringType()))
        for n in ("v", "t")
    ])

    @F.pandas_udf(schema)
    def run(s):
        rows = [d.captures(v) for v in s]
        return pd.DataFrame({
            "v": [r and {k: v for k, (v, _) in r.items()} for r in rows],
            "t": [r and {k: t or "string" for k, (_, t) in r.items()} for r in rows],
        })

    tmp = "_dissect_raw"
    typed = sorted({f.dtype for f in d.fields} & set(CONVERT_SYNTAX))

    def render(k: Column, v: Column) -> Column:
        out = v
        for t in typed:
            out = F.when(F.col(f"{tmp}.t")[k] == t,
                         convert_col(v, t).cast("string")).otherwise(out)
        return out

    out = df.withColumn(tmp, run(F.col(field)))
    out = out.withColumn(
        target_prefix, F.transform_values(F.col(f"{tmp}.v"), render)
    ).drop(tmp)
    return add_flag(out, F.col(target_prefix).isNull(), DISSECT_FAIL_FLAG)


# -- grok ---------------------------------------------------------------------


def grok(
    df: DataFrame,
    patterns: list[str] | str,
    field: str = "message",
    target_prefix: str = "grok",
    pattern_definitions: dict[str, str] | None = None,
    flag_failures: bool = True,
) -> DataFrame:
    """Apply an ordered grok pattern bank (first match wins) to `field`: a
    one-stage chain (see ``grok_chain``), struct column `target_prefix`."""
    return _grok_stages(df, [{
        "patterns": patterns,
        "pattern_definitions": pattern_definitions,
        "target": target_prefix,
        "flag_failures": flag_failures,
    }], field)


def grok_chain(
    df: DataFrame,
    stages: list[dict],
    field: str = "message",
) -> DataFrame:
    """Dependent grok banks fused into ONE Arrow exchange.

    Chained ``grok()`` calls each cost a full JVM↔Python round trip of the
    frame even though a later bank only reads a single capture of an
    earlier one (ingest-pipeline cascades like system/auth's header →
    message → PAM chain, mysql/postgresql/nats two-level splits). Here the
    whole cascade runs inside one pandas UDF: the text column crosses the
    Arrow boundary once, intermediate captures never leave Python, and one
    flat struct of raw string captures comes back (per-stage structs are
    rebuilt, and their typed keys cast by ``convert_col``, in a codegen'd
    Project, so downstream column logic is unchanged).

    Each stage dict:
      - ``patterns`` / ``pattern_definitions``: as ``grok()``; the bank
        must capture at least one field.
      - ``target``: name of the struct column this stage produces; NULL on
        rows the bank did not match (same contract as ``grok()``).
      - ``input``: ``None`` (default) = the chain's ``field``; or a
        ``(stage_target, capture_key)`` tuple reading an earlier stage's
        capture (NaN where that stage was unmatched, so the bank skips it).
      - ``only_if_unmatched``: optional earlier stage target — evaluate
        this stage only on rows that stage left unmatched (the files.yml
        on_failure-continue shape).
      - ``flag_failures``: default True for the first stage, False after
        (later banks are enrichment attempts, not parse failures).
    """
    return _grok_stages(df, stages, field)


def _grok_stages(df: DataFrame, stages: list[dict], field: str) -> DataFrame:
    """The one grok implementation behind ``grok`` and ``grok_chain``."""
    banks = [
        GrokBank(
            [st["patterns"]] if isinstance(st["patterns"], str)
            else list(st["patterns"]),
            st.get("pattern_definitions"),
        )
        for st in stages
    ]
    for st, b in zip(stages, banks):
        if not b.output_keys:
            # a capture-less stage would rebuild as an empty struct (an
            # analysis error); it also can't feed a later stage's input
            raise ValueError(f"grok stage {st['target']!r} captures nothing")
    idx_of = {st["target"]: i for i, st in enumerate(stages)}
    # capture refs accept the original grok name (`_temp.message`) or its
    # struct-safe spelling (`_temp_message`)
    unsafe = [{_safe(k): k for k in b.output_keys} for b in banks]
    flat_fields: list[T.StructField] = []
    for i, bank in enumerate(banks):
        flat_fields += [
            T.StructField(f"f{i}_{_safe(k)}", T.StringType(), True)
            for k in bank.output_keys
        ]
        flat_fields.append(T.StructField(f"m{i}", T.BooleanType(), False))
    schema = T.StructType(flat_fields)
    specs = [
        (st.get("input"), st.get("only_if_unmatched"))
        for st in stages
    ]

    @F.pandas_udf(schema)
    def run(s):
        frames: list[pd.DataFrame] = []
        out = {}
        for i, bank in enumerate(banks):
            inp_spec, gate = specs[i]
            if inp_spec is None:
                inp = s
            else:
                src, key = inp_spec
                j = idx_of[src]
                inp = frames[j][key if key in frames[j].columns
                                else unsafe[j][key]]
            if gate is not None:
                inp = inp.where(~frames[idx_of[gate]]["_grok_matched"])
            fr = bank.grok_frame(inp)
            frames.append(fr)
            for k in bank.output_keys:
                out[f"f{i}_{_safe(k)}"] = fr[k]
            out[f"m{i}"] = fr["_grok_matched"]
        return pd.DataFrame(out)

    tmp = "_grok_chain"
    out = df.withColumn(tmp, run(F.col(field)))
    for i, (st, bank) in enumerate(zip(stages, banks)):
        struct_expr = F.struct(*[
            convert_col(F.col(f"{tmp}.f{i}_{_safe(k)}"), bank.key_types[k])
            .alias(_safe(k))
            for k in bank.output_keys
        ])
        out = out.withColumn(
            st["target"], F.when(F.col(f"{tmp}.m{i}"), struct_expr)
        )
        if st.get("flag_failures", i == 0):
            failed = ~F.coalesce(F.col(f"{tmp}.m{i}"), F.lit(False))
            out = add_flag(out, failed, GROK_FAIL_FLAG)
            out = set_error(
                out, failed, f"grok: no pattern in bank matched {field}"
            )
    return out.drop(tmp)


# -- decoders (all built-in expressions) ---------------------------------------


def decode_json_fields(
    df: DataFrame,
    fields: list[str] | str,
    schema: str | T.DataType = "map<string,string>",
    target: str | None = None,
) -> DataFrame:
    """from_json on each listed string field. Default schema is the dynamic
    map<string,string> shape (≅ schemaless decode); pass a DDL string for a
    declared shape. target=None decodes in place."""
    fields = [fields] if isinstance(fields, str) else fields
    out = df
    for f in fields:
        tgt = target if (target and len(fields) == 1) else f
        decoded = F.from_json(F.col(f), schema)
        out = out.withColumn(tgt, decoded)
    return out


def _xml_decode_batch(texts, to_lower: bool, prepend_hyphen_to_attr: bool):
    """XML → nested-object JSON per the reference decoder's semantics
    (/root/reference/libbeat/common/encoding/xml/decode.go:55-117):
    leaf element → its trimmed cdata string; element with children/attrs →
    object (non-empty cdata under '#text', attributes merged LAST so they
    overwrite same-named children); repeated element names → array; the
    retained cdata is the LAST character-data token in the element (later
    tokens overwrite earlier, whitespace trims to '')."""
    import json
    import xml.etree.ElementTree as ET

    def key(s: str) -> str:
        return s.lower() if to_lower else s

    def conv(elem):
        children = list(elem)
        sub: dict = {}
        for c in children:
            cdata, cobj = conv(c)
            add = cobj if cobj else cdata
            k = key(c.tag)
            if k in sub:
                if isinstance(sub[k], list):
                    sub[k].append(add)
                else:
                    sub[k] = [sub[k], add]
            else:
                sub[k] = add
        last = None
        for t in [elem.text] + [c.tail for c in children]:
            if t is not None:
                last = t
        cdata = (last or "").strip()
        # attrs merge AFTER children (overwriting same-named keys), and the
        # non-empty/#text decision sees the attrs — decode.go:76-81,98
        for aname, aval in elem.attrib.items():
            k = key(aname)
            sub[("-" + k) if prepend_hyphen_to_attr else k] = aval
        if sub and cdata:
            sub["#text"] = cdata
        return cdata, sub

    out_json, out_err = [], []
    for text in texts:
        if text is None:
            out_json.append(None)
            out_err.append(None)
            continue
        try:
            root = ET.fromstring(text)
            cdata, sub = conv(root)
            obj = {key(root.tag): (sub if sub else cdata)}
            out_json.append(json.dumps(obj, ensure_ascii=False))
            out_err.append(None)
        except ET.ParseError as ex:
            out_json.append(None)
            out_err.append(f"error decoding XML field: {ex}")
    return out_json, out_err


def decode_xml(
    df: DataFrame,
    field: str,
    target: str | None = None,
    to_lower: bool = False,
    prepend_hyphen_to_attr: bool = False,
    ignore_failure: bool = False,
    schema: str | T.DataType | None = None,
) -> DataFrame:
    """decode_xml (reference:
    /root/reference/libbeat/processors/decode_xml/decode_xml.go:97-128;
    decoder semantics common/encoding/xml/decode.go:55-117).

    The decoded document lands at `target` (default: overwrite `field`, the
    reference's default) as a JSON string — the schemaless shape, queryable
    with get_json_object / parse_json. Pass `schema` (DDL) to get a typed
    struct via from_json instead (the Spark-native declared-schema path —
    at scale prefer this: typed columns prune and filter at the scan).

    Failures set `error_message` and null the target unless ignore_failure
    (decode_xml.go:90-95). The decode itself is a vectorized pandas UDF —
    generic XML has no JVM builtin without a declared schema, and the batch
    UDF is the engine's standard Arrow escape hatch (one exchange, fused
    with neighboring UDF stages).
    """
    tgt = target if target is not None else field

    @F.pandas_udf("struct<json:string,err:string>")
    def dec(s: pd.Series) -> pd.DataFrame:
        js, err = _xml_decode_batch(s.tolist(), to_lower, prepend_hyphen_to_attr)
        return pd.DataFrame({"json": js, "err": err})

    out = df.withColumn("_xml", dec(F.col(field)))
    decoded = F.col("_xml.json")
    if schema is not None:
        decoded = F.from_json(decoded, schema)
    out = out.withColumn(tgt, decoded)
    if not ignore_failure:
        out = set_error(out, F.col("_xml.err").isNotNull(), F.col("_xml.err"))
    return out.drop("_xml")


# static value tables from the Windows SDK winmeta.xml (reference:
# /root/reference/winlogbeat/sys/winevent/winmeta.go:30-63)
_WINMETA_KEYWORDS = {
    0x1000000000000: "Response Time", 0x4000000000000: "WDI Diag",
    0x8000000000000: "SQM", 0x10000000000000: "Audit Failure",
    0x20000000000000: "Audit Success", 0x40000000000000: "Correlation Hint",
    0x80000000000000: "Classic",
}
_WINMETA_OPCODES = {0: "Info", 1: "Start", 2: "Stop", 3: "DCStart",
                    4: "DCStop", 5: "Extension", 6: "Reply", 7: "Resume",
                    8: "Suspend", 9: "Send"}
_WINMETA_LEVELS = {0: "Information", 1: "Critical", 2: "Error", 3: "Warning",
                   4: "Information", 5: "Verbose"}
_KW_AUDIT_FAILURE, _KW_AUDIT_SUCCESS = 0x10000000000000, 0x20000000000000

WINEVENT_SCHEMA = T.StructType([
    T.StructField("channel", T.StringType()),
    T.StructField("event_id", T.StringType()),
    T.StructField("provider_name", T.StringType()),
    T.StructField("record_id", T.LongType()),
    T.StructField("task", T.StringType()),
    T.StructField("computer_name", T.StringType()),
    T.StructField("keywords", T.ArrayType(T.StringType())),
    T.StructField("opcode", T.StringType()),
    T.StructField("provider_guid", T.StringType()),
    T.StructField("version", T.IntegerType()),
    T.StructField("time_created", T.StringType()),
    T.StructField("outcome", T.StringType()),
    T.StructField("level", T.StringType()),
    T.StructField("message", T.StringType()),
    T.StructField("activity_id", T.StringType()),
    T.StructField("related_activity_id", T.StringType()),
    T.StructField("process_pid", T.LongType()),
    T.StructField("process_thread_id", T.LongType()),
    T.StructField("event_data", T.MapType(T.StringType(), T.StringType())),
    T.StructField("user_data", T.MapType(T.StringType(), T.StringType())),
    T.StructField("_err", T.StringType()),
])


def _winevent_decode_one(text: str) -> dict:
    """One Windows Event XML document → the winlog field map (reference:
    winlogbeat/sys/winevent/event.go:91-152 Fields(), 338-390
    EnrichRawValuesWithNames with the static winmeta tables)."""
    import xml.etree.ElementTree as ET

    def local(tag: str) -> str:
        return tag.rsplit("}", 1)[-1]

    root = ET.fromstring(text)
    out: dict = {}
    rendering: dict = {}
    level_raw = opcode_raw = task_raw = None
    keywords_raw = 0

    for el in root:
        name = local(el.tag)
        if name == "System":
            for s in el:
                n = local(s.tag)
                txt = (s.text or "").strip()
                if n == "Provider":
                    out["provider_name"] = s.get("Name")
                    out["provider_guid"] = s.get("Guid")
                elif n == "EventID":
                    out["event_id"] = txt
                elif n == "Version":
                    out["version"] = int(txt) if txt else None
                elif n == "Level":
                    level_raw = int(txt) if txt else None
                elif n == "Task":
                    task_raw = int(txt) if txt else None
                elif n == "Opcode":
                    opcode_raw = int(txt) if txt else None
                elif n == "Keywords":
                    keywords_raw = int(txt, 0) if txt else 0
                elif n == "TimeCreated":
                    out["time_created"] = s.get("SystemTime")
                elif n == "EventRecordID":
                    out["record_id"] = int(txt) if txt else None
                elif n == "Correlation":
                    out["activity_id"] = s.get("ActivityID")
                    out["related_activity_id"] = s.get("RelatedActivityID")
                elif n == "Execution":
                    pid, tid = s.get("ProcessID"), s.get("ThreadID")
                    out["process_pid"] = int(pid) if pid else None
                    out["process_thread_id"] = int(tid) if tid else None
                elif n == "Channel":
                    out["channel"] = txt
                elif n == "Computer":
                    out["computer_name"] = txt
        elif name == "EventData":
            pairs = {}
            for i, d in enumerate(el):
                pairs[d.get("Name") or f"param{i + 1}"] = d.text
            out["event_data"] = pairs or None
        elif name == "UserData":
            for child in el:
                pairs = {local(c.tag): c.text for c in child}
                pairs["xml_name"] = local(child.tag)
                out["user_data"] = pairs
                break
        elif name == "RenderingInfo":
            for r in el:
                n = local(r.tag)
                if n == "Keywords":
                    rendering["keywords"] = [
                        (k.text or "").strip() for k in r
                    ]
                else:
                    rendering[n.lower()] = (r.text or "")

    # outcome from the raw keyword mask (event.go:107-111)
    if keywords_raw & _KW_AUDIT_FAILURE:
        out["outcome"] = "failure"
    elif keywords_raw & _KW_AUDIT_SUCCESS:
        out["outcome"] = "success"

    # rendered values win; raw values resolve through the static tables
    kw = rendering.get("keywords") or [
        n for m, n in _WINMETA_KEYWORDS.items() if keywords_raw & m
    ]
    out["keywords"] = kw or None
    level = rendering.get("level") or _WINMETA_LEVELS.get(level_raw, "")
    out["level"] = level.lower() or None
    out["opcode"] = rendering.get("opcode") or (
        _WINMETA_OPCODES.get(opcode_raw) if opcode_raw is not None else None
    )
    out["task"] = rendering.get("task") or (
        "None" if task_raw == 0 else None
    )
    msg = rendering.get("message")
    out["message"] = msg.replace("\r\n", "\n").strip() if msg else None
    return out


def decode_xml_wineventlog(
    df: DataFrame,
    field: str,
    target: str = "winlog",
    map_ecs_fields: bool = True,
    ignore_failure: bool = False,
) -> DataFrame:
    """decode_xml_wineventlog (reference:
    /root/reference/libbeat/processors/decode_xml_wineventlog/processor.go:99-163,
    decoder.go:34-42): Windows Event XML → typed `winlog` struct plus the
    ECS mirror columns (event_code/kind/provider/action, host_name,
    event_outcome, log_level, message). Vectorized pandas UDF for the XML
    walk; the ECS projection is pure Column expressions over the struct."""

    @F.pandas_udf(WINEVENT_SCHEMA)
    def dec(s: pd.Series) -> pd.DataFrame:
        rows = []
        keys = [f.name for f in WINEVENT_SCHEMA.fields]
        for text in s:
            if text is None:
                rows.append({k: None for k in keys})
                continue
            try:
                d = _winevent_decode_one(text)
                d["_err"] = None
            except Exception as ex:
                d = {"_err": f"error decoding XML field: {ex}"}
            rows.append({k: d.get(k) for k in keys})
        return pd.DataFrame(rows, columns=keys)

    out = df.withColumn(target, dec(F.col(field)))
    if not ignore_failure:
        out = set_error(out, F.col(f"{target}._err").isNotNull(),
                        F.col(f"{target}._err"))
    out = out.withColumn(target, F.col(target).dropFields("_err"))
    if map_ecs_fields:
        w = F.col(target)
        out = (
            out.withColumn("event_code", w["event_id"])
            .withColumn("event_kind", F.lit("event"))
            .withColumn("event_provider", w["provider_name"])
            .withColumn("event_action", w["task"])
            .withColumn("host_name", w["computer_name"])
            .withColumn("event_outcome", w["outcome"])
            .withColumn("log_level", w["level"])
            .withColumn("message", w["message"])
        )
    return out


def decode_csv_fields(
    df: DataFrame, field: str, target: str, separator: str = ","
) -> DataFrame:
    """RFC-4180-ish split → array<string>. For quoted-field support pass the
    result through from_csv with a declared schema instead."""
    return df.withColumn(target, F.split(F.col(field), re_escape(separator)))


def re_escape(s: str) -> str:
    import re

    return re.escape(s)


def decode_base64_field(df: DataFrame, field: str, target: str) -> DataFrame:
    return df.withColumn(target, F.unbase64(F.col(field)).cast("string"))


def urldecode(df: DataFrame, field: str, target: str | None = None) -> DataFrame:
    return df.withColumn(target or field, F.url_decode(F.col(field)))


def extract_field(
    df: DataFrame, field: str, separator: str, index: int, target: str
) -> DataFrame:
    """Split by separator, take i-th token (extract_field.go:50-53)."""
    return df.withColumn(
        target, F.split(F.col(field), re_escape(separator)).getItem(index)
    )


def extract_array(
    df: DataFrame, field: str, mappings: dict[str, int]
) -> DataFrame:
    """Array elements → named fields (extract_array.go:37-42)."""
    out = df
    for name, idx in mappings.items():
        out = out.withColumn(name, F.col(field).getItem(idx))
    return out


def decode_duration(
    df: DataFrame, field: str, target: str, unit: str = "ms"
) -> DataFrame:
    """Parse Go-style durations like '1h30m0.5s' into a number of `unit`.

    Pure Column arithmetic: extract each unit component, weight, and sum.
    """
    scale = {"ns": 1, "us": 1e3, "ms": 1e6, "s": 1e9, "m": 6e10, "h": 3.6e12}
    if unit not in scale:
        raise ValueError(f"bad duration unit {unit!r}")
    c = F.col(field)
    ns = F.lit(0.0)
    for suffix, mult in [("h", 3.6e12), ("m", 6e10), ("s", 1e9),
                         ("ms", 1e6), ("us", 1e3), ("ns", 1.0)]:
        # component regex: number directly followed by this exact suffix
        if suffix == "m":
            pat = r"(\d+(?:\.\d+)?)m(?![s])"
        elif suffix == "s":
            # Digits IMMEDIATELY followed by a bare 's' can only be the
            # seconds component (ms/us/ns all have a letter between the
            # digits and their trailing 's'), so no lookbehind is needed.
            # A lookbehind like (?<![mun]) is actively WRONG here: on
            # '1m30s' it rejects the match starting at '3' (preceded by
            # 'm') and the engine then matches '0s' — extracting 0
            # seconds instead of 30 (and None for single-digit '1m3s').
            pat = r"(\d+(?:\.\d+)?)s(?![a-z])"
        else:
            pat = rf"(\d+(?:\.\d+)?){suffix}(?![a-z])" if suffix != "ns" else r"(\d+(?:\.\d+)?)ns"
        comp = F.regexp_extract(c, pat, 1)
        ns = ns + F.when(comp == "", F.lit(0.0)).otherwise(comp.cast("double")) * F.lit(mult)
    return df.withColumn(target, ns / F.lit(scale[unit]))


# -- timestamp / convert --------------------------------------------------------

# Go reference layout fragments → JDK DateTimeFormatter pattern fragments
_GO_TO_JAVA = [
    ("2006", "yyyy"), ("01", "MM"), ("_2", "d"), ("02", "dd"), ("15", "HH"),
    ("04", "mm"), ("05", "ss"), (".999999999", ".SSSSSSSSS"),
    (".999999", ".SSSSSS"), (".999", ".SSS"),
    (",999", ",SSS"), (",000", ",SSS"), (".000000", ".SSSSSS"), ("Jan", "MMM"), ("Mon", "EEE"),
    ("Z07:00", "XXX"), ("-07:00", "xxx"), ("Z0700", "XX"), ("-0700", "xx"),
    ("MST", "zzz"), ("PM", "a"), ("03", "hh"), ("06", "yy"),
    # bare literal letters in Go layouts must be quoted for JDK patterns
    ("T", "'T'"),
    # bare "2" = Go's unpadded day-of-month. Applied LAST: every other
    # reference-time token containing a '2' ("2006", "02", "_2") has already
    # been rewritten above, so any surviving '2' is the standalone day token
    # (e.g. redis's "2 Jan 2006 15:04:05.999"). Java 'd' accepts both padded
    # and unpadded day digits.
    ("2", "d"),
]


def go_layout_to_java(layout: str) -> str:
    out = layout
    for go, java in _GO_TO_JAVA:
        out = out.replace(go, java)
    return out


def parse_timestamp(
    c: Column, layouts: list[str], timezone: str | None = None
) -> Column:
    """Parse a time string with ordered layouts (Go layouts or UNIX/UNIX_MS),
    first successful parse wins — ≅ the timestamp processor
    (timestamp/timestamp.go:160-167). With `timezone`, the result is read
    as wall time in that zone and shifted to UTC; the shift applies to
    every layout, so zoned and zoneless layouts take separate calls."""
    attempts = []
    for layout in layouts:
        if layout == "UNIX":
            attempts.append(F.timestamp_seconds(c.try_cast("double")))
        elif layout == "UNIX_MS":
            attempts.append(F.timestamp_millis(c.try_cast("long")))
        else:
            attempts.append(F.try_to_timestamp(c, F.lit(go_layout_to_java(layout))))
    ts = F.coalesce(*attempts) if len(attempts) > 1 else attempts[0]
    if timezone:
        ts = F.to_utc_timestamp(ts, timezone)
    return ts


def timestamp(
    df: DataFrame,
    field: str,
    layouts: list[str],
    target: str = "ts",
    timezone: str | None = None,
) -> DataFrame:
    """`parse_timestamp` of column `field` into column `target`."""
    return df.withColumn(target, parse_timestamp(F.col(field), layouts, timezone))


def convert(
    df: DataFrame,
    fields: list[dict],
    ignore_missing: bool = False,
) -> DataFrame:
    """Cast fields per the convert type lattice (convert/config.go:59-103).

    fields: [{"from": col, "to": optional target, "type": lattice type}],
    applied in order. A string field, and any field converted to 'ip', goes
    through ``convert_col`` (so 'ip' keeps only IPv4/IPv6 literals); any
    other field is a `try_cast` to the type. A spec whose `from` field is
    absent is skipped with `ignore_missing`, else raises ValueError.
    """
    out = df
    for spec in fields:
        src, tgt = spec["from"], spec.get("to", spec["from"])
        typ = spec.get("type", "string")
        c = F.col(src)
        try:
            src_type = out.select(c).schema[0].dataType
        except AnalysisException:
            if ignore_missing:
                continue
            raise ValueError(f"convert: field {src!r} is missing") from None
        if typ == "ip" or isinstance(src_type, T.StringType):
            casted = convert_col(c.cast("string"), typ)
        else:
            casted = c.try_cast(typ)
        out = out.withColumn(tgt, casted)
    return out


# -- kv (key=value splitter) -------------------------------------------------


def kv_entries(col: Column, field_split: str, value_split: str) -> Column:
    """key=value pairs of a string column as array<struct<key,value>> —
    entirely JVM-side: Spark's `split` takes a full Java regex, so the
    lookaround-based splits ES ingest kv uses (e.g. auditd's
    `\\s(?![\\w\"]+?(\\s+|$))`) compile as-is. Parts without a value
    separator are dropped; the FIRST occurrence of a duplicate key wins
    (prepend higher-priority entry arrays before `map_from_entries` to
    overlay, see modules.auditd_log).

    ≅ the `kv` ingest processor the reference's auditd module pipeline is
    built on (filebeat/module/auditd/log/ingest/pipeline.yml:23-33); libbeat
    itself has no kv processor, so this is module-parity surface."""
    parts = F.split(col, field_split)
    entries = F.transform(
        parts,
        lambda p: F.struct(
            F.split(p, value_split, 2).getItem(0).alias("key"),
            F.try_element_at(F.split(p, value_split, 2), F.lit(2)).alias("value"),
        ),
    )
    return F.filter(
        entries, lambda e: e["value"].isNotNull() & (e["key"] != "")
    )


def _dedup_entries_first_wins(entries: Column) -> Column:
    keys = F.transform(entries, lambda e: e["key"])
    return F.filter(
        entries,
        lambda e, i: F.array_position(keys, e["key"]) == i + F.lit(1),
    )


def kv(
    df: DataFrame,
    field: str,
    field_split: str,
    value_split: str,
    target: str = "kv",
) -> DataFrame:
    """Split `field` into a map<string,string> of key=value pairs (regex
    splits, first-dup-wins), null map for null input."""
    entries = _dedup_entries_first_wins(
        kv_entries(F.col(field), field_split, value_split)
    )
    return df.withColumn(target, F.map_from_entries(entries))
