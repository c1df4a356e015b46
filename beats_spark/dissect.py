"""Dissect tokenizer → anchored-regex compiler with vectorized execution.

Re-implements the semantics of the Beats dissect processor (reference:
/root/reference/libbeat/processors/dissect/const.go:31-52 grammar,
dissect.go:44-237 extraction, parser.go:42-103 field wiring) as a compiler
from the `%{key}` tokenizer syntax to ONE anchored, DOTALL Python regex,
executed vectorized over Arrow batches with `pandas.Series.str.extract`.

Equivalence argument (why a non-greedy regex is the reference algorithm):
the reference scans delimiters sequentially with leftmost IndexOf
(dissect.go:103-180). Taking the leftmost occurrence of each delimiter
maximizes the remaining search space for all later delimiters, so if the
leftmost-first parse fails, every parse fails — i.e. regex backtracking can
never succeed where the scan fails, and `(.*?)` non-greedy groups produce
byte-identical captures.

Supported key modifiers (const.go:31-52):
    %{key}        normal capture
    %{}/%{?key}   skip (captured, not emitted)
    %{+key}       append to key, joined with append_separator (default " ")
    %{+key/2}     append with explicit ordinal order
    %{*key}       pointer: captured value becomes an output KEY
    %{&key}       indirect: value stored under the key captured by *key/key
    %{key->}      greedy: delimiter after the field absorbs repeats
    %{key#4}      fixed length capture
    %{key|long}   type conversion (string,long,integer,float,double,boolean,ip)

Type conversion is the convert lattice (grok.CONVERT_SYNTAX): the scalar
path applies `_convert_scalar`; the vectorized path returns raw string
captures and the Spark operator casts them with `operators.parse.convert_col`.

Failure semantics: any non-matching line yields None (scalar) / all-NaN row
(vectorized); the Spark operator layers the `dissect_parsing_error` flag on
top (processor.go:95-105).

Greedy note: the reference absorbs repeated delimiters after a `->` key only
when the next occurrence starts exactly one byte later (stride-1 lookahead,
dissect.go:151-160). A delimiter occurrence shifted by one byte overlaps
itself, which forces d[k] == d[k+1] for every k — i.e. stride-1 absorption
can only ever fire for uniform-single-char delimiters. We absorb single-char
and uniform-char runs exactly and leave other multi-char delimiters
non-absorbing, which is therefore EQUIVALENT to the reference, not a
divergence: verified against the reference's full testdata corpus plus
overlap probes (tests/test_dissect.py::test_reference_corpus_parity,
golden corpus `greedy multi-char` cases).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field as dc_field

import numpy as np
import pandas as pd

from beats_spark.grok import CONVERT_SYNTAX, _convert_scalar

VALID_TYPES = {"string", *CONVERT_SYNTAX}

_TOKEN_RE = re.compile(r"(?s)(.*?)%\{([^}]*?)\}")
_SUFFIX_RE = re.compile(
    r"(?s)^(.*?)(?:/(\d{1,2}))?(?:#(\d{1,2}))?(->)?(?:\|([A-Za-z]*))?$"
)


class DissectError(ValueError):
    pass


@dataclass
class _Field:
    name: str
    kind: str = "normal"  # normal | skip | append | pointer | indirect
    ordinal: int = 0
    fixed_len: int | None = None
    greedy: bool = False
    dtype: str | None = None
    group: int = dc_field(default=-1)  # positional regex group index
    join: str = " "  # append join = preceding delimiter, else " " (field.go:230-234)


def _parse_key(raw: str) -> _Field:
    if raw == "":
        return _Field(name="", kind="skip")
    kind = "normal"
    if raw.startswith("+&") or raw.startswith("&+"):
        raise DissectError(f"mixed prefix `&+`/`+&` in %{{{raw}}}")
    if raw.startswith("?"):
        kind, raw = "skip", raw[1:]
    elif raw.startswith("+"):
        kind, raw = "append", raw[1:]
    elif raw.startswith("&"):
        kind, raw = "indirect", raw[1:]
    elif raw.startswith("*"):
        kind, raw = "pointer", raw[1:]
    m = _SUFFIX_RE.match(raw)
    if not m:
        raise DissectError(f"bad key syntax %{{{raw}}}")
    name, ordinal, fixed, greedy, dtype = m.groups()
    if dtype is not None and dtype not in VALID_TYPES:
        raise DissectError(f"invalid conversion type {dtype!r} in %{{{raw}}}")
    if name == "" and kind == "normal":
        kind = "skip"  # `%{->}` — modifier-only key is an unnamed skip
    return _Field(
        name=name,
        kind=kind,
        ordinal=int(ordinal) if ordinal else 0,
        fixed_len=int(fixed) if fixed else None,
        greedy=greedy is not None,
        dtype=dtype,
    )


def _delim_regex(delim: str, greedy: bool) -> str:
    esc = re.escape(delim)
    if not greedy or not delim:
        return esc
    if len(delim) == 1:
        return f"(?:{esc})+"
    if len(set(delim)) == 1:  # uniform-char delimiter, e.g. "  "
        return esc + re.escape(delim[0]) + "*"
    return esc  # stride-1 absorption for self-overlapping delims not emulated


class Dissector:
    """Compiled dissect tokenizer.

    `static_keys` is the declared output schema (normal + append fields, in
    first-appearance order); pointer/indirect pairs produce dynamic keys and
    flip `self.dynamic` (the Spark operator then emits a MapType column).
    """

    def __init__(
        self,
        tokenizer: str,
        append_separator: str = " ",
        trim_values: str = "none",  # none | left | right | all
        trim_chars: str = " ",
    ):
        self.raw = tokenizer
        self.append_separator = append_separator
        self.trim_values = trim_values
        self.trim_chars = trim_chars

        matches = list(_TOKEN_RE.finditer(tokenizer))
        if not matches:
            raise DissectError(f"invalid dissect tokenizer {tokenizer!r}")
        delims: list[str] = []
        fields: list[_Field] = []
        pos = 0
        for m in matches:
            delims.append(m.group(1))
            fields.append(_parse_key(m.group(2)))
            pos = m.end()
        trailing = tokenizer[pos:]  # literal after the last key, may be ""

        # build ONE anchored DOTALL regex with positional groups
        parts = ["^", re.escape(delims[0])]
        n = len(fields)
        for i, f in enumerate(fields):
            f.group = i
            if f.kind == "append":
                f.join = delims[i] if delims[i] else append_separator
            nxt = delims[i + 1] if i + 1 < n else trailing
            if f.fixed_len is not None:
                parts.append(f"((?s:.{{{f.fixed_len}}}))")
                if i == n - 1 and not trailing:
                    # last fixed-length key must consume the whole remainder
                    # (dissect.go:168-175)
                    parts.append("$")
                elif nxt and f.greedy:
                    # greedy fixed key absorbs delimiter repeats
                    # (dissect.go:149-160)
                    parts.append(_delim_regex(nxt, True))
                elif nxt:
                    # the reference skips delimiter-length bytes after a fixed
                    # key without verifying them (dissect.go:163-166)
                    parts.append(f"(?s:.{{{len(nxt)}}})")
                continue
            if i == n - 1 and not trailing:
                parts.append("((?s:.*))$")
            else:
                parts.append("((?s:.*?))")
            if i < n - 1:
                parts.append(_delim_regex(nxt, f.greedy))
            elif trailing:
                parts.append(_delim_regex(trailing, f.greedy))
                # remainder after a trailing literal is ignored
                # (dissect.go:172-177 only assigns remainder to a field)
        self.pattern = re.compile("".join(parts))
        self.fields = fields
        self.dynamic = any(f.kind in ("pointer", "indirect") for f in fields)

        # resolve order: stable sort by ordinal (parser.go:81-84)
        self._resolve_order = sorted(
            range(n), key=lambda i: (fields[i].ordinal,)
        )

        self.static_keys: list[str] = []
        self.key_types: dict[str, str] = {}
        for f in fields:
            if f.kind in ("normal", "append") and f.name not in self.static_keys:
                self.static_keys.append(f.name)
                self.key_types[f.name] = f.dtype or "string"

    # -- scalar reference implementation (used by tests & corpus) ------------

    def dissect(self, s: str | None) -> dict | None:
        got = self.captures(s)
        if got is None:
            return None
        return {k: _convert_scalar(v, t) for k, (v, t) in got.items()}

    def captures(self, s: str | None) -> dict[str, tuple[str, str | None]] | None:
        """Each output key's raw string capture with its convert type."""
        if not s:
            return None
        m = self.pattern.match(s)
        if m is None:
            return None
        groups = m.groups()  # one capture group per field, in order
        vals = {f.group: self._trim(groups[f.group] or "") for f in self.fields}
        out: dict[str, object] = {}
        dyn_types: dict[str, str | None] = {}
        # Apply in ordinal-sorted order; named-skip/pointer fields write their
        # value for indirect lookup and are deleted afterwards
        # (field.go:123-228, parser.go:91-96).
        for i in self._resolve_order:
            f = self.fields[i]
            v = vals[f.group]
            if f.kind == "skip":
                if f.name:
                    out[f.name] = v
                continue
            if f.kind == "pointer":
                out[f.name] = v
                continue
            if f.kind == "indirect":
                key = out.get(f.name)
                if key is not None:
                    out[str(key)] = v
                    dyn_types[str(key)] = f.dtype
                continue
            if f.kind == "append" and f.name in out:
                out[f.name] = f"{out[f.name]}{f.join}{v}"
            else:
                out[f.name] = v
        for f in self.fields:  # drop reference-only keys (parser.go:91-96)
            if f.kind in ("pointer", "skip") and f.name:
                out.pop(f.name, None)
        return {
            k: (v, dyn_types.get(k, self.key_types.get(k))) for k, v in out.items()
        }

    def _trim(self, v: str) -> str:
        if self.trim_values == "left":
            return v.lstrip(self.trim_chars)
        if self.trim_values == "right":
            return v.rstrip(self.trim_chars)
        if self.trim_values == "all":
            return v.strip(self.trim_chars)
        return v

    # -- vectorized implementation (Arrow batch path) -------------------------

    def dissect_frame(self, s: pd.Series) -> pd.DataFrame:
        """Vectorized extraction: one `str.extract` per batch, column ops after.

        Returns a DataFrame with one raw string capture column per static
        key (its |type is `key_types[key]`); unmatched / null input rows are
        all-NaN. Dynamic (pointer/indirect) tokenizers fall back to the
        scalar path within the batch.
        """
        s = s.astype("object").where(s.notna(), None)
        if self.dynamic:
            rows = [self.captures(v) for v in s]
            return pd.DataFrame(
                {k: [r[k][0] if r and k in r else None for r in rows]
                 for k in self.static_keys},
                index=s.index,
            )
        ext = s.str.extract(self.pattern, expand=True)
        ext.columns = range(len(ext.columns))
        matched = ext[0].notna()
        for c in ext.columns:
            matched &= ext[c].notna()
        if self.trim_values != "none":
            for c in ext.columns:
                ext[c] = pd.Series(
                    np.where(matched, ext[c].map(self._trim, na_action="ignore"), None),
                    index=ext.index,
                )
        out = pd.DataFrame(index=s.index)
        for key in self.static_keys:
            groups = [
                (self.fields[i].group, self.fields[i].join)
                for i in self._resolve_order
                if self.fields[i].name == key
                and self.fields[i].kind in ("normal", "append")
            ]
            if len(groups) == 1:
                col = ext[groups[0][0]]
            else:
                col = ext[groups[0][0]].astype("object")
                for g, join in groups[1:]:
                    col = col + join + ext[g].astype("object")
            out[key] = col.where(matched, None)
        return out
