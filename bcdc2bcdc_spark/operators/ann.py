"""Approximate-nearest-neighbor search over an embedding column.

* ``brute_force_topk`` — exact cosine top-k: queries (small) are
  BROADCAST against the corpus, cosine is a sequential double fold
  (deterministic), top-k via window row_number per query. The baseline
  and the verifier for the approximate paths.
* ``ivf_topk`` — the scale path: k-means-lite (deterministic seeded
  centroid sample) partitions the corpus into cells; a query probes only
  its ``n_probe`` nearest cells, turning the scan from O(corpus) into
  O(corpus × n_probe / n_cells). All DataFrame ops: centroid assignment is
  a broadcast join + argmin, probing is a key-equality join on cell id.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window, functions as F

from bcdc2bcdc_spark.operators.dedupe import cosine_expr


def _as_double(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def _sql_double(x: float) -> str:
    """Exact SQL double literal: ``repr`` is the shortest decimal that
    round-trips to ``x``, so parsing it back yields the identical bits.
    NaN and ±Infinity (a degenerate input vector) have no literal form;
    they render as the string casts Spark SQL parses to the same value."""
    x = float(x)
    if math.isfinite(x):
        return repr(x) + "D"
    if math.isnan(x):
        return "double('NaN')"
    return "double('Infinity')" if x > 0 else "double('-Infinity')"


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k cosine neighbors per query (query_id, neighbor_id, cosine,
    rank). Deterministic tie-break on neighbor id; self-matches excluded."""
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("cv")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine", F.round(cosine_expr(F.col("cv"), F.col("qv")), 6))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def _centroids(corpus: DataFrame, n_cells: int, vec_col: str, id_col: str) -> DataFrame:
    """Deterministic centroid pick: the n_cells corpus vectors with the
    smallest md5(id) — a seeded random sample without randomness.

    Physical plan: orderBy+limit compiles to TakeOrderedAndProject — a
    DISTRIBUTED per-partition top-n followed by a driver-side merge of
    n_cells rows; the subsequent cell-numbering window runs over only
    those n_cells rows (never the corpus). No global single-task sort."""
    small = (
        corpus.select(
            _as_double(F.col(vec_col)).alias("centroid"),
            F.md5(F.col(id_col).cast("string")).alias("_h"),
        )
        .orderBy("_h")
        .limit(n_cells)
    )
    w = Window.orderBy("_h")  # n_cells rows only — bounded, not a scale risk
    return (
        small.withColumn("_r", F.row_number().over(w))
        .select((F.col("_r") - 1).alias("cell_id"), "centroid")
    )


def _centroid_literal(centroids: DataFrame):
    """Collect the (bounded: n_cells rows, already driver-merged by
    ``_centroids``' TakeOrderedAndProject) centroid frame into ONE inline
    array-of-structs literal (None when empty). Bounded metadata collect,
    same class as the lake's touched-bucket list — not a data collect.

    Each entry carries its PRECOMPUTED norm: Python's sequential
    ``acc += x*x`` + ``math.sqrt`` performs the exact IEEE-double op
    sequence of the engine's aggregate fold (and of the SQL oracle's
    sqrt(list_dot_product(c, c))), so inlining the norm as a literal is
    bit-identical to recomputing it per cell — it just stops the fold
    from running n_cells times per vector.

    The literal is RENDERED as one SQL string and parsed with a single
    ``F.expr`` call: building it from nested ``F.lit``/``F.struct`` cost
    one py4j round-trip per scalar — measured ~1.5 s of driver-side plan
    construction for 8 cells × 64 dims — where the rendered form is one
    call (guide §1.2: driver-side work counts too). ``repr(float)`` is
    the shortest round-tripping decimal, so the parsed doubles are
    bit-identical to the former ``F.lit`` values."""
    rows = _collect_centroids(centroids)
    if not rows:
        return None
    entries = []
    for r in rows:
        vec = [float(x) for x in r["centroid"]]
        acc = 0.0
        for x in vec:
            acc += x * x
        arr = ", ".join(_sql_double(x) for x in vec)
        entries.append(
            f"named_struct('cell_id', {int(r['cell_id'])}, "
            f"'centroid', array({arr}), 'norm', {_sql_double(math.sqrt(acc))})"
        )
    return F.expr("array(" + ", ".join(entries) + ")")


def _collect_centroids(centroids) -> list:
    """Centroid frame → driver rows, ONCE (bounded: n_cells rows). Accepts
    an already-collected list so multi-use call sites (corpus assign +
    query assign, Lloyd rounds) never re-execute the centroid plan — with
    refined centroids that plan embeds a corpus-wide job."""
    if isinstance(centroids, list):
        return centroids
    return centroids.orderBy("cell_id").collect()


def _assign_cells(
    vecs: DataFrame, centroids, vec_alias: str, n_best: int
) -> DataFrame:
    """Attach the n_best nearest cell ids to each vector — MAP-SIDE.

    The centroids are inlined as an array literal and each row computes its
    own per-cell cosines + top-n_best with ``transform``/``array_sort``/
    ``slice``: ZERO shuffle on the vector side (the former formulation
    pushed corpus×n_cells rows through a per-vector window exchange).
    Deterministic tie-break identical to the old window (cosine DESC,
    cell_id ASC) via an explicit sort comparator — no sign-flip tricks, so
    -0.0/0.0 ordering can never diverge from the SQL oracle's ORDER BY.
    An empty centroid set (empty corpus) assigns nothing — the result is
    an empty frame with the vecs schema + cell_id."""
    cent = _centroid_literal(centroids)
    if cent is None:
        return vecs.limit(0).withColumn("cell_id", F.lit(0))
    # One norm fold per VECTOR (not per vector×cell); the centroid norms are
    # literals. cosine = dot / (vnorm * cnorm) — the same op sequence as
    # cosine_expr, so values stay bit-identical to the SQL oracle.
    v = F.col(vec_alias)
    vecs_n = vecs.withColumn(
        "_vnorm", F.sqrt(F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x))
    )
    scored = F.transform(
        cent,
        lambda c: F.struct(
            (
                F.aggregate(
                    F.zip_with(v, c["centroid"], lambda x, y: x * y),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
                / (F.col("_vnorm") * c["norm"])
            ).alias("sim"),
            c["cell_id"].alias("cell_id"),
        ),
    )

    def _cmp(a, b):
        return (
            F.when(a["sim"] > b["sim"], F.lit(-1))
            .when(a["sim"] < b["sim"], F.lit(1))
            .when(a["cell_id"] < b["cell_id"], F.lit(-1))
            .when(a["cell_id"] > b["cell_id"], F.lit(1))
            .otherwise(F.lit(0))
        )

    best = F.slice(F.array_sort(scored, _cmp), 1, n_best)
    return (
        vecs_n.withColumn("_best", F.explode(best))
        .withColumn("cell_id", F.col("_best")["cell_id"])
        .drop("_best", "_vnorm")
    )


def lloyd_refine(
    vecs: DataFrame, centroids, iters: int, vec_alias: str = "cv"
):
    """0..iters rounds of Lloyd's k-means over the corpus: assign every
    vector to its nearest centroid (map-side, zero shuffle), then replace
    each non-empty cell's centroid with the member MEAN.

    The mean is computed with exact DECIMAL(28,12) component sums —
    associative, therefore order-independent and bit-identical between
    Spark's partial aggregation and any SQL oracle — then cast back to
    double before the count division. Cells that lose all members drop out
    (their id disappears); surviving cell ids are stable. iters=0 returns
    the input unchanged (the pre-refinement deterministic sample)."""
    cents = centroids
    for _ in range(iters):
        assigned = _assign_cells(vecs, cents, vec_alias, 1)
        comps = assigned.select(
            "cell_id", F.posexplode(F.col(vec_alias)).alias("pos", "comp")
        )
        means = comps.groupBy("cell_id", "pos").agg(
            (
                F.sum(F.col("comp").cast("decimal(28,12)")).cast("double")
                / F.count(F.lit(1))
            ).alias("m")
        )
        cents_df = means.groupBy("cell_id").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
            ).alias("centroid")
        )
        # materialize each round ONCE (n_cells rows): the next round — and
        # every later _assign_cells — builds its literal from these rows
        # instead of re-executing the round's corpus-wide plan; without
        # this, round i+1's collect recomputes rounds 1..i from scratch
        # and ivf_topk's two assigns would run the final round twice.
        cents = _collect_centroids(cents_df)
    return cents


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    lloyd_iters: int = 0,
) -> DataFrame:
    """IVF-style ANN: corpus assigned to its nearest cell, queries probe
    their n_probe nearest cells, exact cosine within probed cells only.
    ``lloyd_iters`` > 0 refines the deterministic sample centroids with
    that many k-means rounds (better recall/cell balance on clustered
    corpora); 0 keeps the plain sample."""
    cents = _centroids(corpus, n_cells, vec_col, id_col)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("cv")
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
    )
    if lloyd_iters:
        cents = lloyd_refine(c, cents, lloyd_iters, "cv")
    cents = _collect_centroids(cents)  # one centroid job for BOTH assigns
    c_cells = _assign_cells(c, cents, "cv", 1)
    q_cells = _assign_cells(q, cents, "qv", n_probe)
    scored = (
        q_cells.join(c_cells, "cell_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine", F.round(cosine_expr(F.col("cv"), F.col("qv")), 6))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
        .distinct()
    )


def ann_recall(exact: DataFrame, approx: DataFrame) -> float:
    """Fraction of exact top-k pairs recovered by the approximate index."""
    e = exact.select("query_id", "neighbor_id")
    hits = e.join(approx.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"]).count()
    total = e.count()
    return hits / total if total else 1.0
