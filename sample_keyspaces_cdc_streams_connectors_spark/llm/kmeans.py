"""Distributed Lloyd's k-means — the IVF coarse quantizer.

``llm.similarity.ivf_topk`` probes inverted-file cells; the fixture
supplies cells via its ``label`` column, and THIS module supplies
them in production: a k-means pass over the embedding column whose
output cell ids feed ``ivf_topk(cell_col=...)`` and the partitioned
table layout (partition by cell → probing is partition pruning).

Reference tie-in: the reference stores vectors remotely and delegates
search entirely (S3VectorTargetMapper.java:87-177); a native engine
needs its own quantizer to make ANN scale past brute force.

Scale design:
- Each iteration is ONE map-only scan (distance argmin against a
  small broadcast codebook — k·dims literals folded into the plan)
  plus ONE groupBy(cell) whose map-side partial state is k rows of
  (sum-vector, count) per partition; the shuffle moves kilobytes.
- The codebook (k × dims floats) collects to the driver per
  iteration — the classic k-means structure; k is small by design
  (the coarse quantizer's job is 1/k scan pruning, not fine ranking).
- Init is deterministic farthest-point (greedy max-min): the first
  seed is the vector with the lowest ``xxhash64(id)`` (hashed order —
  immune to id-correlated data layouts), each next seed maximizes the
  min distance to the chosen set, ties broken by the hash.  k-1
  map-only scans against a broadcast seed set; no RNG anywhere.
  (Lowest-id init — the previous scheme — can seed all k centroids
  inside ONE cluster when ids correlate with content.)
- Farthest-point is k-1 SEQUENTIAL driver-launched jobs — fine at the
  oracle-gate k (4-8), a driver-bound wall at production k (IVF cells
  and SemDeDup codebooks run k in the thousands; each job carries ~1 s
  of fixed scheduling cost however cheap the scan).  For that regime
  :func:`kmeans_seed_parallel` implements k-means|| oversampling
  (Bahmani, Moseley, Vattani, Kumar, Vassilvitskii, VLDB'12): a
  CONSTANT number of sampling passes (independent of k) collects
  ~rounds·ell candidate points, one more pass weights them by how many
  points they attract, and the weighted k-point reduction runs
  driver-side on the candidate set in numpy.  Sampling is hash-derived
  (per-point uniform = hash(point-hash, round) mapped to [0,1)), so
  the whole procedure is deterministic — no RNG, same discipline as
  the farthest-point seeder.  ``kmeans_fit(seed_mode="parallel")``
  opts in; the default stays farthest-point because the oracle gates
  replay it in plain SQL.
- Iterations stop early when the relative inertia improvement falls
  below ``tol``; inertia is aggregated inside the same groupBy that
  computes the means, so convergence tracking costs no extra scan.
- Determinism: ties in the argmin break toward the lower cell id.
  Float mean summation order across partitions is NOT guaranteed, so
  centroid bits may vary run-to-run at the ulp level — assignments
  are stable except for points equidistant at that precision
  (documented; tests assert structure, not float bits).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)


def _sq_dist_to(vec: Column, centroid: list[float]) -> Column:
    """Squared L2 distance to a literal centroid, as a sequential
    left-fold (index-zipped to avoid materializing a pair array)."""
    c = F.array(*[F.lit(float(x)).cast("double") for x in centroid])
    return F.aggregate(
        F.zip_with(vec, c, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _double_sql(x: float) -> str:
    """``x`` as a Spark SQL DOUBLE literal that parses back to the
    identical IEEE-754 double: ``repr`` is the shortest round-trip
    decimal and the ``D`` suffix parses it as a double, not a
    decimal; non-finite values go through the string cast."""
    x = float(x)
    if math.isfinite(x):
        return f"{x!r}D"
    return f"CAST('{x!r}' AS DOUBLE)"


def _codebook_lit(centroids: list[list[float]]) -> Column:
    """The codebook as ONE ``array<array<double>>`` literal expression,
    built from one SQL string: building it element by element with
    ``F.lit(x).cast("double")`` costs several py4j round-trips per
    element — measured 16 s of driver chatter in a k=8/dims=64
    ``write_ivf_index`` of 500 rows, which this parses in one call."""
    rows = ", ".join(
        "array(" + ", ".join(_double_sql(x) for x in c) + ")" for c in centroids
    )
    return F.expr(f"array({rows})")


def _dists_to_all(vec: Column, centroids: list[list[float]]) -> Column:
    """``array<double>`` of squared L2 distances to every centroid.

    The codebook folds into the plan as ONE k×dims literal matrix
    with ONE shared distance lambda (``transform`` over the matrix) —
    per-element arithmetic identical to :func:`_sq_dist_to`, so the
    values are bit-for-bit the same.  The former spelling (k separate
    fold expressions threaded through a when-chain argmin) duplicated
    every distance O(k) times and made Catalyst analysis cost
    O(k²·dims) per query — measured 32 s of pure planning for
    k=8/dims=64 on 500 rows."""
    mat = _codebook_lit(centroids)
    return F.transform(
        mat,
        lambda c: F.aggregate(
            F.zip_with(vec, c, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
    )


def _argmin_of(darr: Column) -> Column:
    """Index of the smallest distance in a :func:`_dists_to_all`
    array (ties -> lowest index; an all-NaN row falls back to cell 0,
    matching the old when-chain whose NaN comparisons were all
    false)."""
    pos = F.array_position(darr, F.array_min(darr))
    return F.when(pos > 0, pos - 1).otherwise(F.lit(0)).cast("int")


def _argmin_cell(vec: Column, centroids: list[list[float]]) -> Column:
    """Index of the nearest centroid (ties -> lowest index)."""
    return _argmin_of(_dists_to_all(vec, centroids))


def kmeans_seed(
    vectors: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    portable_hash: bool = False,
) -> list[list[float]]:
    """Deterministic farthest-point (greedy max-min) seeding.

    Seed 1 = vector with the lowest ``xxhash64(id)``; seed j+1 =
    vector maximizing ``min(dist to seeds 1..j)``, ties broken by the
    hash.  Each pick is one map-only scan (distances to a broadcast
    seed set folded into the plan) + a top-1 — k-1 scans total, no
    RNG, no dependence on id ordering.

    ``portable_hash=True`` swaps xxhash64 for the md5-derived 60-bit
    hash every oracle-checked operator uses (llm.dedup.md5_int of the
    id's decimal string) — same algorithm, engine-portable, so an
    external SQL engine can replicate the seeding exactly.  Default
    stays xxhash64 (cheaper, JVM-side)."""
    if portable_hash:
        from sample_keyspaces_cdc_streams_connectors_spark.llm.dedup import md5_int

        hid = md5_int(F.col(id_col).cast("string"))
    else:
        hid = F.xxhash64(F.col(id_col))
    dvec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    base = vectors.select(hid.alias("__hid"), dvec.alias("__v"))
    first = base.orderBy("__hid").limit(1).collect()
    if not first:
        raise ValueError("empty vector table")
    seeds = [list(first[0]["__v"])]
    for _ in range(k - 1):
        mind = F.array_min(_dists_to_all(F.col("__v"), seeds))
        nxt = (
            base.select("__hid", "__v", mind.alias("__d"))
            .orderBy(F.desc("__d"), F.asc("__hid"))
            .limit(1)
            .collect()
        )
        seeds.append(list(nxt[0]["__v"]))
    return seeds


def _tiled_min_sqdist(
    X: np.ndarray, C: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Per-row (min squared L2 distance, argmin index) against a
    candidate matrix, tiled over (row_block × cand_block) so the
    broadcast difference tensor stays bounded however large the batch,
    candidate count, or dims grow (the same tiling discipline as
    semdedup's assignment kernel).  Exact elementwise (x − c)² sums —
    bit-identical to :func:`_dists_to_all`'s fold arithmetic, which
    matters for tie stability.  Ties keep the lowest candidate index
    (within-tile argmin + strict-< across tiles)."""
    n = len(X)
    dims = max(1, C.shape[1])
    cand_block = max(1, (1 << 16) // dims)
    row_block = max(1, (1 << 22) // (cand_block * dims))
    best_d = np.full(n, np.inf)
    best_j = np.zeros(n, dtype=np.int64)
    for rs in range(0, n, row_block):
        re_ = min(rs + row_block, n)
        Xb = X[rs:re_]
        for cs in range(0, len(C), cand_block):
            blk = C[cs : cs + cand_block]
            d2 = ((Xb[:, None, :] - blk[None, :, :]) ** 2).sum(axis=2)
            jloc = np.argmin(d2, axis=1)
            dloc = d2[np.arange(re_ - rs), jloc]
            upd = dloc < best_d[rs:re_]
            best_j[rs:re_][upd] = jloc[upd] + cs
            best_d[rs:re_][upd] = dloc[upd]
    return best_d, best_j


def _min_dist_pass(base: DataFrame, cands: list[list[float]]) -> DataFrame:
    """MAP-ONLY Arrow pass over a ``(__hid, __v)`` frame: append
    ``__d`` (min squared distance to the broadcast candidate matrix)
    and ``__c`` (argmin candidate index).  The candidates travel as a
    broadcast ndarray, NOT a literal expression matrix — at the
    k-means|| candidate counts (thousands) a literal matrix would blow
    up Catalyst analysis the same way the pre-r4 when-chain did."""
    sc = base.sparkSession.sparkContext
    bc = sc.broadcast(np.asarray(cands, dtype=np.float64))
    schema = StructType(
        [
            StructField("__hid", LongType(), True),
            StructField("__v", ArrayType(DoubleType(), True), True),
            StructField("__d", DoubleType(), False),
            StructField("__c", IntegerType(), False),
        ]
    )

    def gen(batches):
        C = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf["__v"].to_numpy()).astype(np.float64)
            best_d, best_j = _tiled_min_sqdist(X, C)
            yield pd.DataFrame(
                {
                    "__hid": pdf["__hid"],
                    "__v": pdf["__v"],
                    "__d": best_d,
                    "__c": best_j.astype("int32"),
                }
            )

    return base.mapInPandas(gen, schema)


def kmeans_seed_parallel(
    vectors: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rounds: int = 5,
    oversample: int | None = None,
    portable_hash: bool = False,
) -> list[list[float]]:
    """k-means|| oversampling seeding (Bahmani et al., VLDB'12) — the
    production-k replacement for :func:`kmeans_seed`'s k-1 sequential
    driver jobs.

    Job structure (INDEPENDENT of k — the point of the algorithm):
    one job picks the lowest-hash starting point, each of ``rounds``
    sampling rounds runs exactly two jobs (a sum for the current
    potential φ = Σ min-dist², then a filtered collect of the sampled
    points), and one final job weights every candidate by the number
    of points it attracts — ``2 + 2·rounds`` jobs total whether k is
    4 or 40,000.  Each job is a map-only Arrow scan (broadcast
    candidate ndarray) plus a scalar aggregate or an expected-ell-row
    collect, so the driver never funnels data-sized results.

    Sampling is deterministic: point x enters the candidate set in
    round r iff ``u(x, r) < ell · d²(x) / φ`` where ``u`` is a
    hash-derived uniform in [0,1) keyed on (point-hash, round) — the
    paper's independent coin flips with the engine's no-RNG
    discipline.  Points already in the candidate set have d² = 0 and
    can never be re-sampled.  ``ell`` defaults to 2k (the paper's
    recommended oversampling factor range).

    The final reduction to k seeds runs driver-side on the candidate
    set (expected ~1 + rounds·ell points): weighted greedy max-min —
    the first seed is the heaviest candidate, each next seed maximizes
    ``weight · min-dist² to the chosen set`` (the deterministic argmax
    form of the paper's weighted k-means++ re-clustering step), ties
    toward the lower candidate index.  Candidate order is itself
    deterministic (insertion order: starting point, then each round's
    picks sorted by point hash), so the whole seeding is reproducible
    bit-for-bit.

    If sampling collapses early (φ = 0: every point coincides with a
    candidate) the chosen set pads by repeating the first seed —
    mirroring :func:`kmeans_seed`'s behavior on short tables."""
    if portable_hash:
        from sample_keyspaces_cdc_streams_connectors_spark.llm.dedup import md5_int

        hid = md5_int(F.col(id_col).cast("string"))
    else:
        hid = F.xxhash64(F.col(id_col))
    dvec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    base = vectors.select(hid.alias("__hid"), dvec.alias("__v")).persist()
    try:
        first = base.orderBy("__hid").limit(1).collect()
        if not first:
            raise ValueError("empty vector table")
        ell = oversample if oversample is not None else max(2 * k, 8)
        cands: list[list[float]] = [list(first[0]["__v"])]
        for r in range(rounds):
            scored = _min_dist_pass(base, cands)
            phi = scored.agg(F.sum("__d").alias("s")).first()["s"]
            if phi is None or phi <= 0.0:
                break  # every point coincides with a candidate
            if portable_hash:
                # md5 of "hid:round" → 52-bit int → [0,1)
                u = F.conv(
                    F.substring(
                        F.md5(
                            F.concat_ws(
                                ":",
                                F.col("__hid").cast("string"),
                                F.lit(str(r)),
                            )
                        ),
                        1,
                        13,
                    ),
                    16,
                    10,
                ).cast("double") / float(1 << 52)
            else:
                u = F.pmod(
                    F.xxhash64(F.col("__hid"), F.lit(r)), F.lit(1 << 53)
                ).cast("double") / float(1 << 53)
            thresh = F.least(
                F.lit(1.0),
                F.lit(float(ell)) * F.col("__d") / F.lit(float(phi)),
            )
            picked = (
                scored.where(u < thresh)
                .select("__hid", "__v")
                .orderBy("__hid")
                .collect()
            )
            cands.extend(list(row["__v"]) for row in picked)
        # weight pass: how many points each candidate attracts
        Cd = np.asarray(cands, dtype=np.float64)
        w = np.zeros(len(cands), dtype=np.float64)
        for row in (
            _min_dist_pass(base, cands).groupBy("__c").count().collect()
        ):
            w[row["__c"]] = float(row["count"])
    finally:
        base.unpersist(blocking=False)
    # driver-side weighted greedy max-min over the candidate set
    first_j = int(np.argmax(w))  # heaviest; argmax tie -> lowest index
    chosen = [first_j]
    dmin = ((Cd - Cd[first_j]) ** 2).sum(axis=1)
    while len(chosen) < k:
        score = w * dmin
        j = int(np.argmax(score))
        if score[j] <= 0.0:
            j = first_j  # degenerate: fewer distinct candidates than k
        chosen.append(j)
        dmin = np.minimum(dmin, ((Cd - Cd[j]) ** 2).sum(axis=1))
    return [[float(x) for x in Cd[j]] for j in chosen]


def kmeans_fit(
    vectors: DataFrame,
    k: int = 16,
    n_iter: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    tol: float | None = 1e-4,
    history: list[float] | None = None,
    exact_means: bool = False,
    portable_hash: bool = False,
    seed_mode: str = "farthest",
    seed_rounds: int = 5,
    seed_oversample: int | None = None,
) -> list[list[float]]:
    """Run Lloyd's iterations from farthest-point seeds; return the
    final codebook (k rows of dims doubles).  Empty cells keep their
    previous centroid.  ``n_iter`` is the max iteration count; the
    loop stops early once the relative inertia improvement drops
    below ``tol`` (inertia is computed inside the same aggregation as
    the means, so the stop costs no extra pass).  ``tol=None``
    disables the early stop (exactly ``n_iter`` iterations run — the
    reproducible-training mode needs a deterministic iteration
    count, since inertia is an order-dependent float sum).  Pass
    ``history=[]`` to observe the per-iteration assignment inertia.

    ``exact_means=True`` makes training bit-reproducible across
    engines AND across partitionings: each centroid component is
    ``double(Σ decimal(28,6)(x)) / count`` — the decimal sum is exact
    and order-independent, and the final double division is one IEEE
    op, so any engine computing the same formula lands on the
    identical centroid bits (the default float ``avg`` is
    shuffle-order-dependent at the ulp level).  The 1e-6 component
    quantization inside the SUM is noise for a coarse quantizer.
    Combined with ``portable_hash=True`` this makes the whole
    training run replicable in plain SQL — the basis of the
    ``ann_ivf_topk`` oracle gate.

    ``seed_mode`` selects the initializer: ``"farthest"`` (default —
    k-1 sequential jobs, SQL-replayable, right for the gate-scale k)
    or ``"parallel"`` (k-means|| oversampling, constant job count —
    the production mode for IVF cell counts / SemDeDup codebooks where
    k runs in the thousands; see :func:`kmeans_seed_parallel`).
    ``seed_rounds`` / ``seed_oversample`` pass through to the parallel
    seeder."""
    if seed_mode not in ("farthest", "parallel"):
        raise ValueError(f"unknown seed_mode: {seed_mode!r}")
    # kmeans_seed always returns k seeds (the greedy max-min pick
    # repeats points when the table runs short), so the row-count
    # check must happen HERE — otherwise a small table silently
    # yields a codebook with duplicate centroids and permanently
    # empty IVF cells.  limit(k) bounds the validation scan at k
    # rows (a bare count() would read the whole table), and running
    # it BEFORE the dims probe gives the empty table the same clean
    # error instead of a NoneType crash.
    n = vectors.limit(k).count()
    if n < k:
        raise ValueError(f"need >= {k} vectors, got {n}")
    dims = len(
        vectors.select(F.col(vec_col)).first()[0]
    )
    if seed_mode == "parallel":
        centroids = kmeans_seed_parallel(
            vectors,
            k,
            id_col=id_col,
            vec_col=vec_col,
            rounds=seed_rounds,
            oversample=seed_oversample,
            portable_hash=portable_hash,
        )
    else:
        centroids = kmeans_seed(
            vectors, k, id_col=id_col, vec_col=vec_col, portable_hash=portable_hash
        )

    dvec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    prev_inertia: float | None = None
    for _ in range(n_iter):
        darr = _dists_to_all(dvec, centroids)
        assigned = vectors.select(
            darr.alias("__da"), dvec.alias("__v")
        ).select(
            _argmin_of(F.col("__da")).alias("cell"),
            F.array_min("__da").alias("__d"),
            F.col("__v"),
        )
        # mean per cell: dims scalar aggregates — map-side partial
        # (sum, count) per cell keeps the shuffle tiny.  The per-cell
        # inertia contribution rides along in the same shuffle.
        if exact_means:
            aggs = [
                F.sum(
                    F.element_at("__v", i + 1).cast("decimal(28,6)")
                ).alias(f"c{i}")
                for i in range(dims)
            ] + [F.count("*").alias("__cnt")]
        else:
            aggs = [
                F.avg(F.element_at("__v", i + 1)).alias(f"c{i}")
                for i in range(dims)
            ]
        means = assigned.groupBy("cell").agg(
            *aggs,
            F.sum("__d").alias("__inertia"),
        )
        rows = means.collect()
        if exact_means:
            # double(exact decimal sum) / count — one IEEE division,
            # identical in any engine computing the same formula
            new = {
                r["cell"]: [
                    float(r[f"c{i}"]) / r["__cnt"] for i in range(dims)
                ]
                for r in rows
            }
        else:
            new = {
                r["cell"]: [r[f"c{i}"] for i in range(dims)] for r in rows
            }
        centroids = [new.get(j, centroids[j]) for j in range(k)]
        # inertia of the ASSIGNMENT step (pre-update) — monotone
        # non-increasing across iterations by Lloyd's argument
        inertia = float(sum(r["__inertia"] for r in rows))
        if history is not None:
            history.append(inertia)
        if tol is not None and prev_inertia is not None and prev_inertia > 0:
            if (prev_inertia - inertia) / prev_inertia < tol:
                break
        prev_inertia = inertia
    return centroids


def kmeans_assign(
    vectors: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "cell",
) -> DataFrame:
    """(id, cell) assignment against a fixed codebook — the map-only
    labeling pass used both for the IVF index build and for routing
    queries (in production, also the partitioning key of the stored
    table so probes prune partitions)."""
    dvec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    return vectors.select(
        F.col(id_col),
        F.col(vec_col),
        _argmin_cell(dvec, centroids).alias(cell_col),
    )


def kmeans_inertia(
    vectors: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
) -> float:
    """Sum of squared distances to the nearest centroid (the Lloyd's
    objective; each iteration must not increase it)."""
    dvec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    return (
        vectors.select(
            F.array_min(_dists_to_all(dvec, centroids)).alias("d")
        )
        .agg(F.sum("d").alias("s"))
        .first()
        .s
    )
