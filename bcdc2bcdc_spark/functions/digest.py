"""sha256 content digests — the change-detection predicate (D1).

The reference detects UPDATEs by deep-diffing canonicalized records
(/root/reference/bcdc2bcdc/CKANData.py:307-313, Diff.py:35-67). Here the
canonical record is reduced to a sha256 digest and "changed" is digest
inequality — associative, order-insensitive, and computable map-side.

Two implementations of the row digest, identical output, both tested
against each other (``with_row_digest(impl=...)``):

* ``"jvm"``   — built-in ``F.sha2(..., 256)`` (``row_digest_expr``): stays
  inside whole-stage codegen, zero Python boundary. Every digest a lake
  table computes over its own rows (init, lag re-digests, the change
  feed, ``redigest``) and every feed consumer's upsert uses it.
* ``"arrow"`` — vectorized pandas/Arrow UDF over ``pd_row_digest`` (the
  north-rule form; Arrow batch transfer, hashlib per cell). The producer
  of an incoming change set picks it: ``CDCPipeline.digest_impl``
  defaults to it for the event change set it upserts.

NULL handling: digests must distinguish NULL from any real string while
treating every canonical-falsy as the same NULL (canonicalize first!).
A reserved sentinel (an invalid-UTF8-free control prefix) encodes NULL.
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F, types as T
from pyspark.sql.functions import pandas_udf

#: digest input for SQL NULL — cannot collide with real content because we
#: prefix every real value with "v:" and NULL with "n:".
_NULL_TAG = "n:"
_VAL_TAG = "v:"
#: field separator for multi-column row digests; 0x1f = ASCII unit sep.
_SEP = "\x1f"


def _tagged(col: Column) -> Column:
    return F.when(col.isNull(), F.lit(_NULL_TAG)).otherwise(F.concat(F.lit(_VAL_TAG), col))


def row_digest_expr(cols: list[Column | str]) -> Column:
    """Digest of the canonical payload of a row.

    Each column is hashed INDIVIDUALLY first (fixed-width hex), then the
    per-column digests are concatenated and hashed again. Because the
    inner digests have fixed length, no value can imitate a column
    boundary — the mapping payload→digest is injective up to sha256
    collisions (a plain tagged-concat scheme is NOT: a value containing
    ``\\x1fv:`` forges a boundary)."""
    inner = [F.sha2(_tagged(F.col(c) if isinstance(c, str) else c), 256) for c in cols]
    if len(inner) == 1:
        return inner[0]
    return F.sha2(F.concat_ws(_SEP, *inner), 256)


def _java_hex_double(v: float) -> str:
    """Render a double exactly as Java's ``String.format("%a", v)`` does
    — the rendering ``with_row_digest`` uses for float/double columns.

    Hex-float is the right canonical form for digesting floating-point:
    it is exact (no shortest-digit search), trivially computable from the
    raw bits on both sides of the Arrow boundary, and — unlike
    ``Double.toString`` — identical across JVM versions (JDK 19 changed
    decimal rendering to Ryū; ``%a`` did not move). Format, confirmed by
    probe against Spark's ``format_string('%a', col)``: mantissa hex with
    trailing zeros stripped (min one digit), unbiased exponent with no
    '+', subnormals kept UN-normalized at ``0x0.<frac>p-1022``."""
    import math
    import struct

    if v != v:
        return "NaN"
    if v == math.inf:
        return "Infinity"
    if v == -math.inf:
        return "-Infinity"
    bits = struct.unpack("<Q", struct.pack("<d", v))[0]
    sign = "-" if bits >> 63 else ""
    raw_exp = (bits >> 52) & 0x7FF
    frac = bits & ((1 << 52) - 1)
    mant = f"{frac:013x}".rstrip("0") or "0"
    if raw_exp == 0:
        if frac == 0:
            return f"{sign}0x0.0p0"
        return f"{sign}0x0.{mant}p-1022"
    return f"{sign}0x1.{mant}p{raw_exp - 1023}"


def _render_cells(s: pd.Series) -> list:
    """Render one column's cells exactly as Spark's ``CAST(col AS
    STRING)`` would (None for SQL NULL, ``bytes`` passed through raw for
    binary columns) — the pandas mirror of the implicit cast inside
    ``_tagged``. Dtype-aware so a nullable-int column digests '42', never
    the float-promoted '42.0' (pandas promotes int→float64 on NULLs when
    parquet is read without nullable dtypes; see sources/datasource.py
    ``_read_dir``)."""
    from pandas.api import types as ptypes

    dt = s.dtype
    null = s.isna()

    def out(fn):
        return [None if n else fn(v) for v, n in zip(s.tolist(), null.tolist())]

    if ptypes.is_integer_dtype(dt):
        return out(lambda v: str(int(v)))
    if ptypes.is_bool_dtype(dt):
        return out(lambda v: "true" if v else "false")
    if ptypes.is_float_dtype(dt):
        # float32 Series .tolist() widens exactly, and Java's %a widens
        # floats to double too — one renderer covers both widths
        return out(lambda v: _java_hex_double(float(v)))
    # object / string / binary: ints and bools can hide in object columns
    def render(v: object):
        if type(v).__module__ == "numpy" and hasattr(v, "item"):
            v = v.item()  # numpy scalar → native (np.bool_ str()s as 'True')
        if isinstance(v, bool):
            return "true" if v else "false"
        if isinstance(v, int):
            return str(v)
        if isinstance(v, float):
            return _java_hex_double(v)
        if isinstance(v, (bytes, bytearray)):
            return bytes(v)
        return str(v)

    return out(render)


def pd_row_digest(frame: pd.DataFrame, cols: list[str]) -> pd.Series:
    """Pure-pandas row digest, bit-identical to ``row_digest_expr`` — the
    single implementation behind the Arrow UDF AND the ``cdclake`` Python
    data source's executor-side fold (sources/datasource.py), so the two
    engines can never drift. Cell rendering mirrors the JVM implicit
    string cast per dtype (``_render_cells``)."""

    def cell(v: object) -> str:
        if v is None:
            data = _NULL_TAG.encode("utf-8")
        elif isinstance(v, bytes):
            data = _VAL_TAG.encode("utf-8") + v
        else:
            data = (_VAL_TAG + v).encode("utf-8")
        return hashlib.sha256(data).hexdigest()

    if not cols:
        # empty compare set: the same per-row constant the JVM branch
        # emits (sha256 of concat_ws over zero columns = sha256(""))
        empty = hashlib.sha256(b"").hexdigest()
        return pd.Series([empty] * len(frame), index=frame.index)
    rendered = [_render_cells(frame[c]) for c in cols]
    out = []
    for row in zip(*rendered) if rendered else []:
        inner = [cell(v) for v in row]
        if len(inner) == 1:
            out.append(inner[0])
        else:
            out.append(hashlib.sha256(_SEP.join(inner).encode("utf-8")).hexdigest())
    return pd.Series(out, index=frame.index)


@pandas_udf(T.StringType())
def _row_digest_arrow(*series: pd.Series) -> pd.Series:
    frame = pd.concat(series, axis=1)
    frame.columns = list(range(len(series)))
    return pd_row_digest(frame, list(frame.columns)).reset_index(drop=True)


def with_row_digest(
    df: DataFrame,
    cols: list[str],
    out: str = "digest",
    impl: str = "arrow",
) -> DataFrame:
    """Attach a canonical-payload digest column.

    impl="arrow"  → pandas/Arrow UDF, the north-rule path for an incoming
                    change set's content diff (``CDCPipeline`` picks it).
    impl="jvm"    → whole-stage-codegen ``sha2``: identical output, no
                    Python boundary; what the lake uses for its own rows.
    """
    if not cols:
        # empty compare set (a pure-mapping table, e.g. the secondary
        # index: identity IS the payload): every row digests to the same
        # constant — sha256("") on both impls — so UPDATE detection never
        # fires, which is exactly right when there is nothing to compare
        return df.withColumn(out, row_digest_expr([]))
    types = dict(df.dtypes)

    def rendered(c: str) -> Column:
        # float/double render via Java hex-float (%a): exact, JVM-version-
        # stable, and bit-reproducible from raw IEEE bits in the pandas
        # fold (_java_hex_double) — decimal rendering is neither (pandas
        # NULL-promotes ints to float64, and JDK 19 changed
        # Double.toString). Everything else renders via the same CAST the
        # plain concat would apply; binary stays raw bytes.
        col = F.col(c)
        if types.get(c) in ("double", "float"):
            return F.when(col.isNull(), F.lit(None).cast("string")).otherwise(
                F.format_string("%a", col)
            )
        return col

    if impl == "jvm":
        return df.withColumn(out, row_digest_expr([rendered(c) for c in cols]))
    if impl == "arrow":
        # strings cross the Arrow boundary losslessly: cast JVM-side so
        # the UDF sees exactly row_digest_expr's rendering for ints/bools
        # too (a nullable int would otherwise float-promote to '42.0')
        def as_str(c: str) -> Column:
            col = rendered(c)
            return col if types.get(c) == "binary" else col.cast("string")

        return df.withColumn(out, _row_digest_arrow(*[as_str(c) for c in cols]))
    raise ValueError(f"unknown digest impl: {impl!r} (want 'arrow' or 'jvm')")
