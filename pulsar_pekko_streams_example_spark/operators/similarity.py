"""Similarity search over embedding columns (array<float>).

Two execution paths:

- ``cosine_topk`` — declarative brute force: broadcast the (small) query set,
  JVM-side zip_with/aggregate dot products, window top-k.  This is the
  oracle-parity path (deterministic left-fold double accumulation identical
  to DuckDB's list_reduce).
- ``cosine_topk_numpy`` — the throughput path: one Arrow-batched
  mapInPandas doing a vectorized fold-ordered matmul per batch against the
  broadcast query matrix.  At 100 TB this is the shape you want: embeddings
  never shuffle, each partition streams through one vectorized scoring pass;
  top-k then reduces (k × queries) rows per partition, not the full score
  matrix.

Both return BIT-identical rows (tested + oracle-checked) — the numpy path
accumulates in the same dimension order as the declarative fold, so cosine
float64 values match exactly; rank by (score desc, vec_id).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)
from pyspark.sql.window import Window

from pulsar_pekko_streams_example_spark.operators.partitioning import spread

# Left-fold dot product, identical fold order in both dialects (DuckDB twin
# is list_reduce(list_prepend(0.0, ...))) so doubles are bit-identical.
# NOTE (measured, do not revisit): unrolling this to a flat 64-term
# GetArrayItem sum is ~3× SLOWER end-to-end (embedding_near_dup 2.9s → 8.2s
# warm at sf0.1) — three 64-term expressions per verify stage blow past the
# codegen method-size limits, and the split/interpreted fallback loses to the
# single-pass fold eval despite the fold itself not being codegen-fused.
DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
    "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
)

# Random-hyperplane LSH: bit j of the signature = sign(embedding · hp_j).
# Hyperplane components are deterministic integer pseudo-noise so the DuckDB
# oracle regenerates them exactly: hp_j[i] = ((Aj*(i+1) + Bj) % 97) - 48.
N_HYPERPLANES = 16
HP_A = [(2654435761 * (j + 1) + 40503) % 1_000_003 for j in range(N_HYPERPLANES)]
HP_B = [(97 * (j + 1) * (j + 7) + 13) % 1_000_003 for j in range(N_HYPERPLANES)]


def _norm(col: str) -> str:
    return f"sqrt({DOT.format(a=col, b=col)})"


def safe_cos(dot: str, norm_prod: str, dialect: str) -> str:
    """TOTAL cosine: ``dot / norm_prod`` with degenerate inputs mapped to -1.

    A 100 TB corpus WILL contain zero-norm, NaN, and float32-max embeddings
    (truncated uploads, failed encoders).  Raw division is not total there:
    Spark ANSI raises DIVIDE_BY_ZERO on a zero norm product, and a NaN
    cosine RANKS DIFFERENTLY across formulations (Spark array_sort on the
    negated value puts NaN last; a DESC window puts NaN first in both
    engines) so assignments silently diverge.  Contract, identical in both
    dialects: zero-norm or NaN cosine := -1 (the worst score — degenerate
    vectors are similar to nothing); ±Inf survives (IEEE-consistent rank in
    both engines); NULL embeddings stay NULL (NULLS LAST in both engines'
    descending order).
    """
    if dialect == "spark":
        return (
            f"nanvl(CASE WHEN ({norm_prod}) = CAST(0 AS DOUBLE) "
            "THEN CAST(-1 AS DOUBLE) "
            f"ELSE ({dot}) / ({norm_prod}) END, CAST(-1 AS DOUBLE))"
        )
    return (
        f"CASE WHEN ({norm_prod}) = CAST(0 AS DOUBLE) THEN CAST(-1 AS DOUBLE) "
        f"WHEN isnan(({dot}) / ({norm_prod})) THEN CAST(-1 AS DOUBLE) "
        f"ELSE ({dot}) / ({norm_prod}) END"
    )


def hyperplane_bit(j: int, emb: str, dialect: str) -> str:
    """SQL for signature bit j (0/1) of array column ``emb``, identical in
    both dialects: left-fold dot product with the integer hyperplane."""
    coef = f"(({HP_A[j]} * i + {HP_B[j]}) % 97 - 48)"
    if dialect == "spark":
        # size=0 guard (ADVICE r15 class): Spark's sequence(1, 0) DESCENDS
        # to [1, 0] and element_at throws on the empty array, while DuckDB's
        # range(1, 1) is empty and folds to 0.0 — guard to the same 0.0
        dot = (
            f"CASE WHEN size({emb}) = 0 THEN CAST(0.0 AS DOUBLE) "
            f"ELSE aggregate(sequence(1, size({emb})), CAST(0.0 AS DOUBLE), "
            f"(acc, i) -> acc + CAST(element_at({emb}, i) AS DOUBLE) * {coef}) END"
        )
    else:
        dot = (
            f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            f"list_transform(range(1, len({emb}) + 1), "
            f"i -> CAST({emb}[i] AS DOUBLE) * {coef})), (acc, x) -> acc + x)"
        )
    return f"(CASE WHEN {dot} >= 0 THEN 1 ELSE 0 END)"


def hyperplane_signature(emb: str, dialect: str) -> str:
    """16-bit signature int64 from the hyperplane bits.

    Spark dialect folds the array ONCE with an array<double>(16) accumulator
    (per-bit add order identical to the 16 independent folds, so values are
    bit-identical to the DuckDB dialect) — a 16× smaller expression tree than
    emitting one fold per bit.  Unrolling all 16×64 terms into literal
    arithmetic was measured SLOWER end-to-end (planning + codegen compile of
    a ~3000-node expression dominates at any corpus size where the 2000-row
    signature eval is trivial) — same negative result as the DOT unroll, see
    the note on DOT above."""
    if dialect == "spark":
        arr_a = "array(" + ", ".join(map(str, HP_A)) + ")"
        arr_b = "array(" + ", ".join(map(str, HP_B)) + ")"
        # size=0 guard (ADVICE r15 class): an EMPTY (non-NULL) embedding must
        # fold to the zero dot vector — all 16 bits set, signature 65535 —
        # exactly as DuckDB's empty range(1, 1) folds each bit's dot to 0.0;
        # unguarded, Spark's descending sequence(1, 0) makes element_at throw
        dots = (
            f"CASE WHEN size({emb}) = 0 THEN array_repeat(CAST(0.0 AS DOUBLE), 16) "
            f"ELSE aggregate(sequence(1, size({emb})), "
            "array_repeat(CAST(0.0 AS DOUBLE), 16), "
            "(acc, i) -> zip_with(acc, sequence(0, 15), "
            f"(a, j) -> a + CAST(element_at({emb}, CAST(i AS INT)) AS DOUBLE) * "
            f"CAST((element_at({arr_a}, CAST(j + 1 AS INT)) * i "
            f"+ element_at({arr_b}, CAST(j + 1 AS INT))) % 97 - 48 AS DOUBLE))) END"
        )
        return (
            f"aggregate(zip_with({dots}, sequence(0, 15), "
            "(d, j) -> CASE WHEN d >= 0 THEN shiftleft(1L, CAST(j AS INT)) ELSE 0L END), "
            "0L, (acc, x) -> acc + x)"
        )
    return (
        "("
        + " + ".join(
            f"{hyperplane_bit(j, emb, dialect)} * {2 ** j}"
            for j in range(N_HYPERPLANES)
        )
        + ")"
    )


def signature_bands(emb: DataFrame) -> DataFrame:
    """(vec_id, band, val): 4×4-bit bands of the 16-bit hyperplane signature —
    the shared coarse quantizer for near-dup and bucketed ANN."""
    emb = spread(emb)
    sig = emb.select(
        "vec_id",
        F.expr(hyperplane_signature("embedding", "spark")).alias("sig"),
    )
    return sig.select(
        "vec_id",
        F.explode(
            F.expr(
                "array("
                + ", ".join(
                    f"struct({b}L AS band, CAST((sig div {16 ** b}) % 16 AS LONG) AS val)"
                    for b in range(4)
                )
                + ")"
            )
        ).alias("bv"),
    ).select("vec_id", F.col("bv.band"), F.col("bv.val"))


def ann_lsh_topk(
    emb: DataFrame, query_filter: str, k: int, bands: DataFrame | None = None
) -> DataFrame:
    """LSH-bucketed ANN: each query searches only vectors sharing at least one
    signature band — the scale path where the corpus-sized cross join never
    happens.  Recall < 100% is the contract (the oracle replicates the
    bucketing); rank/score of returned neighbors are exact cosine.

    ``bands`` lets a multi-consumer pipeline substitute materialized
    signature bands (operators/cache.py) — the same quantizer feeds
    embedding near-dup, so one signature pass serves both."""
    emb = spread(emb)
    bands = bands if bands is not None else signature_bands(emb)
    qb = bands.filter(F.expr(query_filter)).alias("q")
    cb = bands.alias("c")
    cand = (
        qb.join(
            cb,
            (F.col("q.band") == F.col("c.band"))
            & (F.col("q.val") == F.col("c.val"))
            & (F.col("q.vec_id") != F.col("c.vec_id")),
        )
        .select(
            F.col("q.vec_id").alias("query_id"),
            F.col("c.vec_id").alias("neighbor_id"),
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    base = emb.filter(F.col("embedding").isNotNull()).select(
        "vec_id", "embedding", F.expr(_norm("embedding")).alias("nrm")
    )
    qe = base.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("nrm").alias("qn"),
    )
    ne = base.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("ne"),
        F.col("nrm").alias("nn"),
    )
    scored = (
        cand.join(qe, ["query_id"])
        .join(ne, ["neighbor_id"])
        .withColumn(
            "cosine",
            F.expr(safe_cos(DOT.format(a="qe", b="ne"), "qn * nn", "spark")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "cosine", "rnk")
    )


_PAIR_COS_SCHEMA = StructType(
    [
        StructField("vec_a", LongType()),
        StructField("vec_b", LongType()),
        StructField("cosine", DoubleType()),
    ]
)


def _pair_cosines(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Arrow-batched per-pair cosine, bit-identical to the declarative
    ``safe_cos(DOT(ea, eb), na * nb)`` WITHOUT the totalizing coalesce
    (one corner excepted, below) —
    NULL propagates (the scored_candidate_pairs contract), so the NULL
    decision rides in as precomputed booleans (``hna``/``hnb``: the JVM-side
    ``nrm IS NULL``, true iff the vector has a NULL element) because Arrow
    maps NULL array elements to NaN and would otherwise conflate the
    NULL-cosine and NaN→-1 rules.

    Per pair, in the JVM/DuckDB twin order exactly:
    - either side has a NULL element, or lengths differ (zip_with NULL-pads)
      → cosine NULL (NaN in the output buffer → Arrow null);
    - else dot = dimension-ordered left fold (one multiply and one add
      per dimension over the batch, deliberately NOT fused: an FMA rounds
      once and would differ from the zip_with aggregate's separate
      multiply-then-add, which this sequence matches bit for bit);
    - prod = na * nb (the JVM-computed norms ride in, so the product is the
      same double); prod == 0 → -1; NaN quotient → -1 (nanvl twin); ±Inf
      survives.

    The corner: a ragged pair (lengths differ) whose norm product is 0 —
    two zero-norm vectors of different lengths — gives NULL here, where the
    declarative expression hits its prod = 0 branch first and gives -1.
    Both consumers mask it: ``embedding_near_dup``'s threshold filter drops
    NULL and -1 alike, and ``semdedup_threshold_curve`` coalesces NULL to
    -1."""
    import numpy as np

    for pdf in batches:
        n = len(pdf)
        if not n:
            continue
        out = np.full(n, np.nan)  # NaN → Arrow null → SQL NULL cosine
        la = pdf["ea"].map(len).to_numpy(dtype=np.int64)
        lb = pdf["eb"].map(len).to_numpy(dtype=np.int64)
        na = pdf["na"].to_numpy(dtype=np.float64)
        nb = pdf["nb"].to_numpy(dtype=np.float64)
        clean = (
            ~pdf["hna"].to_numpy(dtype=bool)
            & ~pdf["hnb"].to_numpy(dtype=bool)
            & (la == lb)
        )
        ea_cells = pdf["ea"].to_numpy()
        eb_cells = pdf["eb"].to_numpy()
        for L in np.unique(la[clean]):
            rows = np.nonzero(clean & (la == L))[0]
            if L == 0:
                dots = np.zeros(rows.size, dtype=np.float64)
            else:
                # np.stack over the object array gathers the (n, L) matrix
                # at C speed — a per-row `.iat` list comprehension here
                # measured ~3 s per 10^6 gathers, dominating the stage
                A = np.stack(ea_cells[rows]).astype(np.float64, copy=False)
                B = np.stack(eb_cells[rows]).astype(np.float64, copy=False)
                dots = np.zeros(rows.size, dtype=np.float64)
                for d in range(L):
                    dots += A[:, d] * B[:, d]
            prod = na[rows] * nb[rows]
            with np.errstate(divide="ignore", invalid="ignore"):
                c = dots / prod
            c = np.where(prod == 0.0, -1.0, c)
            c = np.where(np.isnan(c), -1.0, c)
            out[rows] = c
        yield pd.DataFrame(
            {"vec_a": pdf["vec_a"], "vec_b": pdf["vec_b"], "cosine": out}
        )


def scored_candidate_pairs(
    emb: DataFrame, bands: DataFrame | None = None
) -> DataFrame:
    """Exact-cosine-scored LSH candidate pairs, UNFILTERED: signature →
    4×4-bit bands → bucket-collision candidates → one cosine per pair.

    The shared candidate pipeline behind ``embedding_near_dup`` (which
    filters ``cosine >= threshold``) and the dedup-threshold calibration
    curve (which histograms ALL pairs).  Round-17 (guide §4.2, VERDICT r16
    ask #5): the per-PAIR cosine is an Arrow-batched numpy fold
    (``_pair_cosines``) instead of the interpreted 64-dim higher-order
    aggregate — Catalyst evaluates HOF lambdas interpreted (no codegen, no
    CSE), which made the per-pair fold the dominant per-row cost of the
    similarity family (and forced consumers into filter-placement
    gymnastics: a deterministic predicate over the declarative cosine was
    pushed below the aggregate and re-evaluated the fold twice per pair —
    the round-12 lesson).  With the scoring behind an opaque MapInPandas,
    nothing can push into it, so consumers may filter/group the cosine
    freely; per-VECTOR folds (norms, signatures) stay declarative in the
    JVM — they are corpus-sized, not pair-sized.

    NULL contract (lockstep with the DuckDB twin, unchanged): fully NULL
    embeddings are excluded; a NULL *element* makes the dot fold NULL and
    the pair's cosine NULL — downstream filters (threshold, IS NOT NULL)
    drop it in both engines.  Values are bit-identical to the declarative
    fold (dimension-ordered accumulation; the JVM-computed norms ride into
    the division), pinned by the adversarial-embedding parity suite."""
    emb = spread(emb)
    # candidate generation shuffles (band, val, vec_id) only — the embedding
    # arrays re-attach AFTER pair dedup, so the wide columns never fan out
    bands = bands if bands is not None else signature_bands(emb)
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
        )
        .dropDuplicates(["vec_a", "vec_b"])
    )
    # nrm IS NULL ⟺ the non-NULL embedding has a NULL element (the norm is
    # sqrt of the self-dot fold) — the boolean costs no extra fold and lets
    # the Python side keep NULL-cosine and NaN→-1 distinct (Arrow collapses
    # NULL elements to NaN inside float64 batches).
    base = emb.filter(F.col("embedding").isNotNull()).select(
        "vec_id", "embedding", F.expr(_norm("embedding")).alias("nrm")
    )
    ea = base.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("ea"),
        F.col("nrm").alias("na"),
        F.isnull("nrm").alias("hna"),
    )
    eb = base.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"),
        F.isnull("nrm").alias("hnb"),
    )
    return (
        cand.join(ea, ["vec_a"])  # AQE broadcasts when the vector side is small
        .join(eb, ["vec_b"])
        .select("vec_a", "vec_b", "ea", "na", "hna", "eb", "nb", "hnb")
        .mapInPandas(_pair_cosines, _PAIR_COS_SCHEMA)
    )


TOTAL_COS_SCHEMA = StructType(
    [
        StructField("id_a", LongType()),
        StructField("id_b", LongType()),
        StructField("cosine", DoubleType()),
    ]
)


def total_pair_cosines(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Arrow-batched twin of ``coalesce(safe_cos(DOT(ea, eb), na * nb), -1)``
    — the TOTAL contract (cosine_topk / semantic_dedup_probe posture): NULL
    array, NULL element, ragged lengths, zero norm product and NaN all score
    -1, so the NULL/NaN conflation in Arrow float batches is harmless here
    (both rules land on -1) and no flag columns are needed.  Input columns
    (id_a, id_b, ea, na, eb, nb); dimension-ordered fold, JVM norms ride in
    — values bit-identical to the declarative expression."""
    import numpy as np

    for pdf in batches:
        n = len(pdf)
        if not n:
            continue
        out = np.full(n, -1.0)
        la = pdf["ea"].map(lambda x: -1 if x is None else len(x)).to_numpy(
            dtype=np.int64
        )
        lb = pdf["eb"].map(lambda x: -1 if x is None else len(x)).to_numpy(
            dtype=np.int64
        )
        na = pdf["na"].to_numpy(dtype=np.float64)  # NULL norm -> NaN -> -1
        nb = pdf["nb"].to_numpy(dtype=np.float64)
        clean = (la >= 0) & (la == lb)
        ea_cells = pdf["ea"].to_numpy()
        eb_cells = pdf["eb"].to_numpy()
        for L in np.unique(la[clean]):
            rows = np.nonzero(clean & (la == L))[0]
            if L == 0:
                dots = np.zeros(rows.size, dtype=np.float64)
            else:
                # C-speed gather (see _pair_cosines): np.stack over the
                # object array, never a per-row .iat list comprehension
                A = np.stack(ea_cells[rows]).astype(np.float64, copy=False)
                B = np.stack(eb_cells[rows]).astype(np.float64, copy=False)
                dots = np.zeros(rows.size, dtype=np.float64)
                for d in range(L):
                    dots += A[:, d] * B[:, d]
            prod = na[rows] * nb[rows]
            with np.errstate(divide="ignore", invalid="ignore"):
                c = dots / prod
            c = np.where(prod == 0.0, -1.0, c)
            c = np.where(np.isnan(c), -1.0, c)
            out[rows] = c
        yield pd.DataFrame(
            {"id_a": pdf["id_a"], "id_b": pdf["id_b"], "cosine": out}
        )


def embedding_near_dup(
    emb: DataFrame, threshold: float, bands: DataFrame | None = None
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via random-hyperplane LSH:
    ``scored_candidate_pairs`` verified at exact cosine ≥ threshold.

    The scale path for embedding dedup: candidate generation is an equi-join
    on (band, value) over constant-size signatures — the corpus-sized cross
    join never happens.  LSH recall (<100%) is part of the operator's
    contract; the oracle replicates the same banding, so results are exact.
    """
    return scored_candidate_pairs(emb, bands=bands).filter(
        F.col("cosine") >= threshold
    )


def cosine_topk(emb: DataFrame, query_filter: str, k: int) -> DataFrame:
    """Brute-force cosine top-k: queries × corpus via broadcast nested-loop,
    declarative dot products, rank window per query.

    NULL contract (shared with ``cosine_topk_numpy`` and the oracle): fully
    NULL embeddings are excluded on BOTH sides; a NULL *element* makes the
    dot fold NULL, coalesced to cosine -1 — the numpy path cannot represent
    NULL (NaN → -1 there), so all three formulations must score it -1."""
    emb = spread(emb).filter(F.col("embedding").isNotNull())
    q = emb.filter(F.expr(query_filter)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.expr(_norm("embedding")).alias("qn"),
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("ne"),
        F.expr(_norm("embedding")).alias("nn"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine",
            F.coalesce(
                F.expr(safe_cos(DOT.format(a="qe", b="ne"), "qn * nn", "spark")),
                F.lit(-1.0),
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "cosine", "rnk")
    )


_TOPK_SCHEMA = StructType(
    [
        StructField("query_id", LongType()),
        StructField("neighbor_id", LongType()),
        StructField("cosine", DoubleType()),
    ]
)


# Ceiling on the broadcast query set: ``query_filter`` is arbitrary user SQL,
# and a corpus-sized filter would collect the corpus onto the driver.  100k
# queries × 64 float64 dims ≈ 50 MB — a comfortable broadcast; beyond that the
# caller should use the LSH/IVF paths (which never collect).
MAX_BROADCAST_QUERIES = 100_000


def _fold_dots(qm, mat):
    """(queries × batch) dot-product matrix accumulated in DIMENSION ORDER —
    the same left-fold the declarative DOT expression and the DuckDB
    list_reduce oracle use, so every double is bit-identical across the three
    paths (IEEE binary64 add/mul are order-deterministic; a BLAS GEMM's
    blocked accumulation is not).  Same flop count as the GEMM, still fully
    vectorized — each step is one rank-1 elementwise multiply-add.

    Tiled over the batch axis so the accumulator slab stays L2-resident:
    an untiled fold streams the full (queries × batch) matrix from DRAM once
    per dimension, which under a saturated 32-core bench contends for memory
    bandwidth with every other running query.  Tiling changes NO per-element
    accumulation order — bit-exactness is preserved."""
    import numpy as np

    nq = qm.shape[0]
    tile = max(1, (1 << 18) // max(nq * 8, 1))  # ~256 KiB accumulator slab
    dots = np.empty((nq, mat.shape[0]), dtype=np.float64)
    for s in range(0, mat.shape[0], tile):
        m = mat[s : s + tile]
        acc = np.zeros((nq, m.shape[0]), dtype=np.float64)
        for d in range(mat.shape[1]):
            acc += qm[:, d][:, None] * m[:, d][None, :]
        dots[:, s : s + m.shape[0]] = acc
    return dots


def _fold_norms(mat):
    """sqrt of the dimension-ordered self-dot fold (bit-identical to
    ``sqrt(DOT(x, x))``)."""
    import numpy as np

    acc = np.zeros(mat.shape[0], dtype=np.float64)
    for d in range(mat.shape[1]):
        acc += mat[:, d] * mat[:, d]
    return np.sqrt(acc)


def cosine_topk_numpy(
    emb: DataFrame,
    query_filter: str,
    k: int,
    max_queries: int = MAX_BROADCAST_QUERIES,
) -> DataFrame:
    """Vectorized brute-force ANN baseline: per-partition numpy fold-ordered
    matmul against the broadcast query matrix, partial top-k per partition,
    global top-k reduce.  No shuffle of the corpus; only
    (partitions × queries × k) rows move.

    Scores are accumulated in dimension order (see ``_fold_dots``) so they are
    bit-identical to ``cosine_topk`` and to the DuckDB oracle — the throughput
    path shares the correctness gate instead of a weaker rows-only check.
    """
    import numpy as np

    spark = emb.sparkSession
    qdf = emb.filter(F.expr(query_filter)).filter(
        F.col("embedding").isNotNull()
    ).select("vec_id", "embedding")
    # guard the driver collect: fail fast instead of OOMing on a filter that
    # matches the corpus (limit+count scans at most max_queries+1 rows)
    if qdf.limit(max_queries + 1).count() > max_queries:
        raise ValueError(
            f"query_filter {query_filter!r} matches more than {max_queries} "
            "rows; brute-force broadcast requires queries << corpus — use "
            "ann_lsh_topk / ann_ivf_topk for corpus-scale query sets"
        )
    qrows = qdf.collect()
    if not qrows:
        # empty corpus / no matching queries: the 0-row result, not an
        # IndexError from a (0,)-shaped query matrix
        return spark.createDataFrame(
            [], StructType([*_TOPK_SCHEMA.fields, StructField("rnk", LongType())])
        )
    q_ids = np.array([r["vec_id"] for r in qrows], dtype=np.int64)
    # LENGTH-GROUPED query matrices (ADVICE r15 class — ragged corpora):
    # a single np.array over ragged rows crashes on "inhomogeneous shape",
    # and zero-padding would fabricate real cosines where the declarative
    # path's zip_with NULL-pads any length-mismatched pair into a NULL dot
    # fold that coalesces to -1.  Exact twin semantics: pairs score a real
    # cosine ONLY when query and neighbor lengths match; every mismatched
    # pair keeps the -1 init, and zero-length matches fall to -1 through
    # the prod == 0 rule (norm 0) — bit-identical to the SQL formulations.
    by_len: dict[int, tuple] = {}
    for pos, r in enumerate(qrows):
        by_len.setdefault(len(r["embedding"]), ([], []))
        by_len[len(r["embedding"])][0].append(pos)
        by_len[len(r["embedding"])][1].append(r["embedding"])
    q_groups = {
        L: (
            np.array(pos, dtype=np.int64),
            np.array(vecs, dtype=np.float64).reshape(len(vecs), L),
        )
        for L, (pos, vecs) in by_len.items()
    }
    q_groups = {
        L: (pos, qm, _fold_norms(qm)) for L, (pos, qm) in q_groups.items()
    }
    bq = spark.sparkContext.broadcast((q_ids, q_groups))

    def part_topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids, groups = bq.value
        for pdf in batches:
            if not len(pdf):
                continue
            nid = pdf["vec_id"].to_numpy(dtype=np.int64)
            lens = pdf["embedding"].map(len).to_numpy(dtype=np.int64)
            scores = np.full((len(ids), len(nid)), -1.0)
            for L, (qpos, qm, qn) in groups.items():
                cols = np.nonzero(lens == L)[0]
                if cols.size == 0:
                    continue
                # NULL elements become NaN here; the NaN -> -1 rule below
                # then scores the row -1, which IS the shared contract: the
                # declarative path and the oracle coalesce their NULL dot
                # folds to -1 so all three formulations agree
                mat = np.array(
                    [pdf["embedding"].iat[c] for c in cols], dtype=np.float64
                ).reshape(cols.size, L)
                nn = _fold_norms(mat)
                # numpy twin of safe_cos(): zero norm product or NaN -> -1,
                # evaluated in the same order so values stay bit-identical
                prod = qn[:, None] * nn[None, :]
                with np.errstate(divide="ignore", invalid="ignore"):
                    s = _fold_dots(qm, mat) / prod
                s = np.where(prod == 0.0, -1.0, s)
                s = np.where(np.isnan(s), -1.0, s)
                scores[np.ix_(qpos, cols)] = s
            self_m = ids[:, None] == nid[None, :]
            scores = np.where(self_m, -np.inf, scores)  # mask self-matches
            # take one extra column: a self-match inside the cut must not
            # displace a genuine candidate from the batch-local top-k
            top = min(k + 1, scores.shape[1])
            # per-row sort on (-score, neighbor_id): the same tie-break the
            # global rank window uses, so a tie straddling the batch-local
            # cut keeps the SAME rows the exact global top-k would keep
            nid2 = np.broadcast_to(nid, scores.shape)
            idx = np.lexsort((nid2, -scores), axis=1)[:, :top]
            rows = np.take_along_axis(scores, idx, axis=1)
            # drop exactly the masked self rows (by position, not by value:
            # a genuine -inf cosine from an Inf-component vector survives,
            # matching the declarative path)
            keep = ~np.take_along_axis(self_m, idx, axis=1).ravel()
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(ids, top)[keep],
                    "neighbor_id": nid[idx].ravel()[keep],
                    "cosine": rows.ravel()[keep],
                }
            )

    partial = (
        spread(emb)
        .filter(F.col("embedding").isNotNull())
        .select("vec_id", "embedding")
        .mapInPandas(part_topk, _TOPK_SCHEMA)
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        partial.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "cosine", "rnk")
    )


# --- PQ (product-quantization) ANN with ADC scoring -------------------------

# Product quantization (Jégou, Douze, Schmid, "Product Quantization for
# Nearest Neighbor Search", TPAMI 2011): split the d-dim space into M
# orthogonal subspaces, quantize each subvector against a per-subspace
# codebook of K centroids, and represent every corpus vector by its M
# centroid ids — M bytes instead of 4·d.  Queries never touch the corpus
# embeddings: ADC (asymmetric distance computation) precomputes the M×K
# table of query-subvector→centroid distances, and a vector's approximate
# distance is M table lookups summed over its code.
#
# Deterministic codebook, same posture as the IVF quantizer above:
# centroid j of every subspace is the j-th strided corpus vector's
# subvector (production trains per-subspace k-means on a sample; a pure
# function of the data keeps the DuckDB oracle bit-identical).
PQ_M = 8  # subspaces (64-dim embeddings -> 8 dims each)
PQ_SUBDIM = 8
PQ_CODEBOOK = 16  # centroids per subspace (4-bit codes)
PQ_CENT_STRIDE = 8
PQ_CENT_OFFSET = 1
# Degenerate-subdistance sentinel: INSIDE the DECIMAL(38,6) envelope
# (|x| < 1e32) so the portable decimal ADC sum still accumulates it —
# a NaN/NULL subdistance ranks the pair last instead of vanishing.
PQ_SENTINEL = "1e30"


def sqdist(a: str, b: str, dialect: str) -> str:
    """Left-fold squared L2 distance between equal-length array columns,
    identical fold order in both dialects (the (x-y)·(x-y) twin of DOT) so
    doubles are bit-identical across engines."""
    if dialect == "spark":
        return (
            f"aggregate(zip_with({a}, {b}, (x, y) -> "
            "(CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) * "
            "(CAST(x AS DOUBLE) - CAST(y AS DOUBLE))), "
            "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
        )
    # Round-16 ragged/NULL-pair totality, matching Spark's zip_with exactly:
    # greatest-length iteration — zip_with NULL-pads the shorter array, so
    # a length-mismatched pair folds to NULL (then the sentinel guard);
    # iterating len(a) alone would instead fold a real partial distance
    # when a is shorter (an EMPTY subvector would score a perfect 0.0
    # against every codebook entry).  The explicit NULL-array CASE is
    # required because DuckDB's greatest IGNORES NULL args and
    # list_prepend(0.0, NULL) is [0.0] — without it, empty-vs-NULL pairs
    # fold to 0.0 where Spark's zip_with(empty, NULL) is NULL.
    return (
        f"(CASE WHEN {a} IS NULL OR {b} IS NULL THEN NULL ELSE "
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(range(1, greatest(len({a}), len({b})) + 1), "
        f"i -> (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE)) * "
        f"(CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE)))), "
        "(acc, x) -> acc + x) END)"
    )


def pq_distance_table(emb: DataFrame, row_filter: str | None = None) -> DataFrame:
    """(vec_id, m, j, d): guarded squared L2 distance of every vector's
    m-th subvector to centroid j of subspace m.

    ONE table serves both PQ stages: corpus rows argmin into codes
    (``pq_codes``) and query rows ARE the ADC lookup tables — the distance
    expression is written once, so both sides are bit-identical by
    construction.  The centroid set broadcasts (M·K subvectors); the only
    wide pass is this map-side scoring, O(corpus · M · K · subdim) — at a
    real deployment the codes are computed once at ingest and materialized
    (operators/cache.py posture), so query-time cost never touches this.

    Guard: a NULL/NaN subdistance (NULL element, NaN component) becomes the
    in-envelope sentinel 1e30 — deterministic worst-rank in BOTH engines
    (evaluated via nanvl/coalesce so the fold itself runs once per row).
    ±Inf survives: IEEE-consistent ordering either way, and the decimal ADC
    accumulator excludes it identically in both engines.

    ``row_filter`` restricts WHICH vectors get distance rows (the codebook
    always derives from the full corpus): the query-side table needs only
    the query vectors, and without the pushdown the plan would score the
    whole corpus against the codebook a second time just to keep 1% of the
    rows (the two consumers share no materialization — each builds its own
    subtree)."""
    emb = spread(emb)
    base = emb.filter(F.col("embedding").isNotNull()).select("vec_id", "embedding")
    cent = base.filter(
        (F.col("vec_id") < PQ_CENT_STRIDE * PQ_CODEBOOK)
        & (F.col("vec_id") % PQ_CENT_STRIDE == PQ_CENT_OFFSET)
    ).select(
        ((F.col("vec_id") - PQ_CENT_OFFSET) / PQ_CENT_STRIDE)
        .cast("long")
        .alias("j"),
        F.col("embedding").alias("ce"),
    )
    if row_filter is not None:
        base = base.filter(F.expr(row_filter))
    sub_v = f"slice(embedding, m * {PQ_SUBDIM} + 1, {PQ_SUBDIM})"
    sub_c = f"slice(ce, m * {PQ_SUBDIM} + 1, {PQ_SUBDIM})"
    d = sqdist(sub_v, sub_c, "spark")
    guarded = (
        f"coalesce(nanvl({d}, CAST({PQ_SENTINEL} AS DOUBLE)), "
        f"CAST({PQ_SENTINEL} AS DOUBLE))"
    )
    return (
        base.crossJoin(F.broadcast(cent))
        .select(
            "vec_id",
            "j",
            "embedding",
            "ce",
            F.explode(F.expr(f"sequence(0, {PQ_M - 1})")).alias("m"),
        )
        .select("vec_id", F.col("m").cast("long").alias("m"), "j", F.expr(guarded).alias("d"))
    )


def pq_codebook_census(emb: DataFrame) -> dict:
    """{'n_centroids': int, 'missing_j': [int, ...]} — the health check for
    the strided PQ codebook (round-13, ADVICE).

    The codebook derives from vec_ids ``OFFSET, OFFSET+STRIDE, ...`` AFTER
    the ``embedding IS NOT NULL`` filter, so a NULL-embedding seed silently
    leaves a hole at its centroid slot: the queries stay deterministic and
    oracle-matched (both engines share the hole), but a corpus where many
    low vec_ids are NULL degrades quantization with no signal.  This census
    makes collapse VISIBLE — a deployment should alarm when
    ``n_centroids < PQ_CODEBOOK // 2``, the threshold the operator test
    pins on the test corpus.  One metadata-cheap job over < STRIDE·K rows
    of the corpus head; never part of a query plan."""
    cent_js = (
        spread(emb)
        .filter(F.col("embedding").isNotNull())
        .filter(
            (F.col("vec_id") < PQ_CENT_STRIDE * PQ_CODEBOOK)
            & (F.col("vec_id") % PQ_CENT_STRIDE == PQ_CENT_OFFSET)
        )
        .select(
            ((F.col("vec_id") - PQ_CENT_OFFSET) / PQ_CENT_STRIDE)
            .cast("long")
            .alias("j")
        )
    )
    present = {r["j"] for r in cent_js.collect()}  # <= PQ_CODEBOOK scalars
    return {
        "n_centroids": len(present),
        "missing_j": sorted(set(range(PQ_CODEBOOK)) - present),
    }


def pq_codes(dtable: DataFrame) -> DataFrame:
    """(vec_id, m, code): each vector's nearest centroid per subspace —
    the M-byte PQ code, as one hash aggregate of min(struct(d, j)) with
    map-side partials (ties break to the smaller centroid id, the same
    order the oracle's ROW_NUMBER pins)."""
    return (
        dtable.groupBy("vec_id", "m")
        .agg(F.min(F.struct(F.col("d"), F.col("j"))).alias("mn"))
        .select("vec_id", "m", F.col("mn.j").alias("code"))
    )


def ann_pq_adc_topk(emb: DataFrame, query_filter: str, k: int) -> DataFrame:
    """PQ/ADC ANN: corpus vectors quantize to M-byte codes once; each query
    precomputes its M×K distance table and scores a neighbor with M lookups
    — query-time work never touches a corpus embedding.

    THE 100 TB shape for embedding retrieval: a billion 64-dim float32
    vectors are 256 GB of embeddings but only 8 GB of PQ codes, the scoring
    join is an equi-join of codes against a BROADCAST query table on
    (subspace, centroid id), and the ADC sum is one hash aggregate — no
    pairwise join ever materializes subvectors.  Quantization error (ADC
    distance ≈ true distance) is the operator's contract — the oracle
    replicates the deterministic strided codebook, the argmin tie-break,
    and the decimal-exact ADC sum, so results match bit-for-bit.  Rank by
    (adc_dist ASC NULLS LAST, neighbor_id): an all-excluded (±Inf) code
    sums to NULL and ranks last, identically in both engines."""
    from pulsar_pekko_streams_example_spark.functions.numeric import dsum

    codes = pq_codes(pq_distance_table(emb))
    qdt = pq_distance_table(emb, row_filter=query_filter).select(
        F.col("vec_id").alias("query_id"),
        "m",
        F.col("j").alias("code"),
        "d",
    )
    scored = (
        codes.withColumnRenamed("vec_id", "neighbor_id")
        .join(F.broadcast(qdt), ["m", "code"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(dsum("d").alias("adc_dist"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc_nulls_last(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "adc_dist", "rnk")
    )


def ann_pq_refine_topk(
    emb: DataFrame, query_filter: str, k: int, r: int
) -> DataFrame:
    """PQ/ADC + refine (the IVFADC+R shape, Jégou et al. TPAMI 2011 §V):
    the compressed-domain ADC pass shortlists ``r`` candidates per query,
    then ONLY those r rejoin their full embeddings for an exact-cosine
    re-rank to the final top-``k``.

    The standard accuracy/IO trade at 100 TB: the corpus-wide scan stays in
    the 8-byte-code domain (ann_pq_adc_topk's contract), and the refine
    stage touches r full vectors per query — an equi-join of the
    (queries x r)-row shortlist against the embedding store, never a second
    corpus scan shape.  Any true top-k neighbor that survives the shortlist
    is guaranteed into the refined top-k (at most k-1 vectors beat it
    globally), so refined recall@k >= ADC recall@k — pinned.  Cosine is the
    shared fold + safe_cos total contract (NULL-element dot -> -1, same as
    cosine_topk) so ranks are deterministic on hostile corpora."""
    short = ann_pq_adc_topk(emb, query_filter, r).select(
        "query_id", "neighbor_id"
    )
    base = emb.filter(F.col("embedding").isNotNull()).select(
        "vec_id", "embedding", F.expr(_norm("embedding")).alias("nrm")
    )
    q = base.filter(F.expr(query_filter)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("nrm").alias("qn"),
    )
    n = base.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("ne"),
        F.col("nrm").alias("nn"),
    )
    rescored = (
        short.join(n, ["neighbor_id"])
        .join(F.broadcast(q), ["query_id"])
        .withColumn(
            "cosine",
            F.coalesce(
                F.expr(safe_cos(DOT.format(a="qe", b="ne"), "qn * nn", "spark")),
                F.lit(-1.0),
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        rescored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "cosine", "rnk")
    )


# --- IVF (inverted-file) ANN -----------------------------------------------

# Deterministic strided coarse quantizer: centroid set = every 64th vector.
# Production would train centroids with sampled k-means (spark.ml KMeans on a
# corpus sample); a fixed stride keeps the quantizer a pure function of the
# data so the DuckDB oracle replicates the index bit-for-bit.  The IVF
# *structure* — assign each vector to its nearest centroid once, probe only
# nprobe lists per query — is exactly the production shape.
IVF_CENT_STRIDE = 64
IVF_CENT_OFFSET = 7
IVF_NPROBE = 2


def ivf_assignments(emb: DataFrame) -> DataFrame:
    """(vec_id, cent_id): each vector's nearest centroid by cosine.

    The centroid table broadcasts (it is corpus/STRIDE rows — at a real
    deployment, O(sqrt(corpus)) trained centroids), so scoring is a map-only
    pass over the embeddings; the argmax collapses to ONE hash aggregate of
    max(struct(csim, -cent_id)) with map-side partials — the only shuffle
    carries a single row per vector, never the score matrix."""
    base = emb.filter(F.col("embedding").isNotNull()).select(
        "vec_id", "embedding", F.expr(_norm("embedding")).alias("nrm")
    )
    cent = base.filter(
        (F.col("vec_id") % IVF_CENT_STRIDE) == IVF_CENT_OFFSET
    ).select(
        F.col("vec_id").alias("cent_id"),
        F.col("embedding").alias("ce"),
        F.col("nrm").alias("cn"),
    )
    scored = base.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        "cent_id",
        (
            F.expr(safe_cos(DOT.format(a="embedding", b="ce"), "nrm * cn", "spark"))
        ).alias("csim"),
    )
    return (
        scored.groupBy("vec_id")
        .agg(
            F.max(
                F.struct(F.col("csim").alias("csim"), (-F.col("cent_id")).alias("neg"))
            ).alias("m")
        )
        .select("vec_id", (-F.col("m.neg")).alias("cent_id"))
    )


def ann_ivfadc_topk(
    emb: DataFrame, query_filter: str, k: int, nprobe: int = None
) -> DataFrame:
    """IVF + PQ composed (the IVFADC index structure, Jégou et al. TPAMI
    2011 §VI, without residual encoding): vectors live in nearest-centroid
    inverted lists AS PQ CODES; a query probes its ``nprobe`` closest lists
    and ADC-scores ONLY those lists' codes against its distance table.

    THE production shape for billion-scale ANN — both reductions at once:
    IVF cuts the candidate set to ~corpus·nprobe/C (an equi-join on
    cent_id, lists partitioned by centroid), and PQ keeps the scan in the
    8-byte code domain (scoring = M broadcast-table lookups, no corpus
    embedding is ever touched at query time).  The scoring join carries
    (cent_id, m, code) against the broadcast (query, probe-list, table)
    rows; the ADC sum is one decimal-exact hash aggregate.  Residuals are
    deliberately NOT encoded (codes quantize raw vectors) so the codebook
    stays the deterministic strided one the DuckDB oracle replicates
    bit-for-bit; the structure — probe, then compressed-domain score — is
    exactly IVFADC's.  Rank by (adc_dist ASC NULLS LAST, neighbor_id),
    the ann_pq_adc_topk contract."""
    from pulsar_pekko_streams_example_spark.functions.numeric import dsum

    nprobe = IVF_NPROBE if nprobe is None else nprobe
    emb = spread(emb)
    codes = pq_codes(pq_distance_table(emb))
    lists = ivf_assignments(emb).withColumnRenamed("vec_id", "neighbor_id")
    coded_lists = codes.withColumnRenamed("vec_id", "neighbor_id").join(
        lists, ["neighbor_id"]
    )
    probes = ivf_probe_ranks(emb, query_filter).filter(
        F.col("pr") <= nprobe
    ).select("query_id", "cent_id")
    qdt = pq_distance_table(emb, row_filter=query_filter).select(
        F.col("vec_id").alias("query_id"),
        "m",
        F.col("j").alias("code"),
        "d",
    )
    # one broadcast carries (query, probed list, subspace, code, d): the
    # big side streams codes once, filtered to probed lists by the join
    probe_tables = probes.join(qdt, ["query_id"])
    scored = (
        coded_lists.join(F.broadcast(probe_tables), ["cent_id", "m", "code"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(dsum("d").alias("adc_dist"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc_nulls_last(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "adc_dist", "rnk")
    )


def ivf_probe_ranks(emb: DataFrame, query_filter: str) -> DataFrame:
    """(query_id, cent_id, pr): EVERY centroid ranked per query by cosine —
    the full probe ordering of which ``ann_ivf_topk`` takes the first
    ``nprobe``.  Feeds the recall ledger (ann_ivf_recall_report): the probe
    rank of an exact neighbor's home centroid tells you the smallest nprobe
    that would have found it.

    Queries filter BEFORE the centroid cross join, so the scoring pass is
    |queries| x |centroids| — never corpus-sized; the rank window partitions
    by query over <= |centroids| rows."""
    base = emb.filter(F.col("embedding").isNotNull()).select(
        "vec_id", "embedding", F.expr(_norm("embedding")).alias("nrm")
    )
    cent = base.filter(
        (F.col("vec_id") % IVF_CENT_STRIDE) == IVF_CENT_OFFSET
    ).select(
        F.col("vec_id").alias("cent_id"),
        F.col("embedding").alias("ce"),
        F.col("nrm").alias("cn"),
    )
    scored = (
        base.filter(F.expr(query_filter))
        .crossJoin(F.broadcast(cent))
        .select(
            F.col("vec_id").alias("query_id"),
            "cent_id",
            F.expr(
                safe_cos(DOT.format(a="embedding", b="ce"), "nrm * cn", "spark")
            ).alias("csim"),
        )
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("csim").desc(), F.col("cent_id")
    )
    return scored.withColumn("pr", F.row_number().over(wq).cast("long")).select(
        "query_id", "cent_id", "pr"
    )


def ann_ivf_topk(
    emb: DataFrame, query_filter: str, k: int, nprobe: int = IVF_NPROBE
) -> DataFrame:
    """IVF ANN: nearest-centroid inverted lists, queries probe only their
    ``nprobe`` closest lists, exact-cosine re-score + top-k inside them.

    The scale path where neither the corpus cross join nor a corpus-wide
    shuffle ever happens: per query the search touches ~corpus·nprobe/C
    vectors, and the candidate join is an equi-join on cent_id against
    inverted lists that are partitioned by cent_id.  Recall < 100% is the
    contract (the oracle replicates the quantizer and probing exactly);
    returned scores/ranks are exact cosine."""
    emb = spread(emb)
    base = emb.filter(F.col("embedding").isNotNull()).select(
        "vec_id", "embedding", F.expr(_norm("embedding")).alias("nrm")
    )
    cent = base.filter(
        (F.col("vec_id") % IVF_CENT_STRIDE) == IVF_CENT_OFFSET
    ).select(
        F.col("vec_id").alias("cent_id"),
        F.col("embedding").alias("ce"),
        F.col("nrm").alias("cn"),
    )
    return _ivf_topk_from_cent(base, cent, query_filter, k, nprobe)


def _ivf_topk_from_cent(
    base: DataFrame, cent: DataFrame, query_filter: str, k: int, nprobe: int
) -> DataFrame:
    """IVF search against an EXPLICIT coarse quantizer: ``base`` is the
    non-NULL (vec_id, embedding, nrm) corpus, ``cent`` the (cent_id, ce, cn)
    centroid table (broadcastable by construction — O(sqrt(corpus)) rows at
    a real deployment).  Shared by the strided quantizer (``ann_ivf_topk``)
    and the Lloyd's-trained one (``ann_ivf_trained_topk``): assignment and
    probing both ride ONE broadcast scoring pass; lists join on cent_id."""
    scored = base.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        "cent_id",
        (
            F.expr(safe_cos(DOT.format(a="embedding", b="ce"), "nrm * cn", "spark"))
        ).alias("csim"),
    )
    assign = (
        scored.groupBy("vec_id")
        .agg(
            F.max(
                F.struct(F.col("csim").alias("csim"), (-F.col("cent_id")).alias("neg"))
            ).alias("m")
        )
        .select("vec_id", (-F.col("m.neg")).alias("cent_id"))
    )
    wq = Window.partitionBy("query_id").orderBy(F.col("csim").desc(), F.col("cent_id"))
    probes = (
        scored.filter(F.expr(query_filter))
        .select(F.col("vec_id").alias("query_id"), "cent_id", "csim")
        .withColumn("pr", F.row_number().over(wq))
        .filter(F.col("pr") <= nprobe)
        .select("query_id", "cent_id")
    )
    lists = assign.join(base, "vec_id").select(
        "cent_id",
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("ne"),
        F.col("nrm").alias("nn"),
    )
    q = base.filter(F.expr(query_filter)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("nrm").alias("qn"),
    )
    # assignment is unique per vector, so (query, neighbor) pairs are already
    # distinct — no dedup shuffle needed after the list join
    rescored = (
        probes.join(lists, "cent_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .join(F.broadcast(q), "query_id")
        .withColumn(
            "cosine",
            F.expr(safe_cos(DOT.format(a="qe", b="ne"), "qn * nn", "spark")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        rescored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "cosine", "rnk")
    )


# --- Trained IVF coarse quantizer (VERDICT r15 task 1) -----------------------
#
# The strided quantizer above keeps the DuckDB oracle bit-exact but leaves
# recall on the table: strided "centroids" are arbitrary corpus vectors, not
# cluster centers.  The trained variant runs IVF_TRAIN_ROUNDS unrolled
# Lloyd's iterations (operators/clustering.py — broadcast assign, exact
# DECIMAL component sums, k x d shuffle per round) from the SAME strided
# seeds, so the recall delta in ann_method_recall_matrix is attributable to
# training alone, and the DuckDB oracle replicates every round bit-for-bit
# (deterministic seeds + safe_cos assignment + exact decimal means — the
# kmeans_round2_movement machinery, already oracle-proven).  Production
# would train on a hash sample with more rounds; the dataflow is identical.

IVF_TRAIN_ROUNDS = 2


def trained_ivf_centroids(
    emb: DataFrame, rounds: int = IVF_TRAIN_ROUNDS
) -> DataFrame:
    """(cluster_id, centroid): Lloyd's-trained coarse quantizer, seeded from
    the strided corpus rows.  Each round is a broadcast-assign map pass plus
    ONE k x d-row shuffle (exact decimal component sums); clusters that lose
    every member simply drop out, deterministically in both engines."""
    from pulsar_pekko_streams_example_spark.operators import clustering

    emb = spread(emb)
    cents = (
        emb.filter(F.col("embedding").isNotNull())
        .filter((F.col("vec_id") % IVF_CENT_STRIDE) == IVF_CENT_OFFSET)
        .select(
            F.col("vec_id").alias("cluster_id"),
            F.col("embedding").alias("centroid"),
        )
    )
    for _ in range(rounds):
        assigned = clustering.assign(emb, cents)
        cents = clustering.centroids_from_sums(clustering.update_sums(assigned))
    return cents


def ann_ivf_trained_topk(
    emb: DataFrame,
    query_filter: str,
    k: int,
    nprobe: int = IVF_NPROBE,
    rounds: int = IVF_TRAIN_ROUNDS,
) -> DataFrame:
    """IVF ANN over the Lloyd's-TRAINED coarse quantizer: identical search
    dataflow to ``ann_ivf_topk`` (broadcast centroid scoring, cent_id
    equi-join lists, exact-cosine re-rank), only the quantizer differs.
    Same-k recall >= the strided quantizer's on clustered corpora is the
    point, and is what ann_method_recall_matrix's ivf_trained row measures."""
    emb = spread(emb)
    base = emb.filter(F.col("embedding").isNotNull()).select(
        "vec_id", "embedding", F.expr(_norm("embedding")).alias("nrm")
    )
    cent = trained_ivf_centroids(emb, rounds).select(
        # coalesce to the unreachable -1: cluster_id is the training
        # argmax pick, and a nullable key here lets a downstream equi-join
        # push isnotnull(<whole assign fold>) INTO the training crossJoin,
        # re-evaluating the fold per row as a join residual (the
        # dup_span_coverage lesson; plan-audited).  Oracle twins carry the
        # same coalesce in lockstep.
        F.coalesce(F.col("cluster_id"), F.lit(-1)).alias("cent_id"),
        F.col("centroid").alias("ce"),
        F.expr(_norm("centroid")).alias("cn"),
    )
    return _ivf_topk_from_cent(base, cent, query_filter, k, nprobe)


# --- Residual-encoded IVFADC (VERDICT r15 task 2, Jégou §VI complete) --------

# Spark-side residual r = x - c(x): zip_with difference in DOUBLE.  No size
# guard on purpose — zip_with NULL-pads ragged pairs, and the NULL elements
# then fold to the PQ sentinel in every subdistance, which is exactly the
# deterministic worst-rank contract the raw-vector PQ path uses.
RESID = (
    "zip_with({x}, {c}, (x, y) -> CAST(x AS DOUBLE) - CAST(y AS DOUBLE))"
)


def resid_duck(x: str, c: str) -> str:
    """DuckDB twin of RESID: greatest-length iteration + NULL-array CASE
    (the _duck_dot round-16 recipe) so ragged and NULL pairs produce the
    same NULL-padded residual zip_with does."""
    return (
        f"(CASE WHEN {x} IS NULL OR {c} IS NULL THEN NULL ELSE "
        f"list_transform(range(1, greatest(len({x}), len({c})) + 1), "
        f"i -> CAST({x}[i] AS DOUBLE) - CAST({c}[i] AS DOUBLE)) END)"
    )


def ann_ivfadc_residual_topk(
    emb: DataFrame, query_filter: str, k: int, nprobe: int = None
) -> DataFrame:
    """IVFADC with RESIDUAL encoding — the accuracy half of Jégou et al.
    TPAMI 2011 §VI that ann_ivfadc_topk deliberately omits: PQ codes
    quantize r = x − c(x) (the vector's offset from its home centroid)
    instead of x itself, and at query time the query is re-expressed as a
    residual AGAINST EACH PROBED LIST, so the distance table is computed
    per (query, probed centroid) — |queries| × nprobe × M × K rows, still
    a broadcast.  Residuals concentrate near the origin, so the same
    codebook budget quantizes them with less error than raw vectors —
    measured in ann_method_recall_matrix's ivfadc_residual row.

    Deterministic twin structure: the coarse quantizer is the strided IVF
    centroid set and the residual codebook is the RESIDUALS of the strided
    PQ seeds (their own home-centroid offsets), so the DuckDB oracle
    replicates the index bit-for-bit.  Scoring joins codes against the
    broadcast query tables on (cent_id, m, code) — the corpus streams its
    8-byte codes once, embeddings never move at query time; ranks by
    (adc_dist ASC NULLS LAST, neighbor_id), the shared PQ contract."""
    from pulsar_pekko_streams_example_spark.functions.numeric import dsum

    nprobe = IVF_NPROBE if nprobe is None else nprobe
    emb = spread(emb)
    base = emb.filter(F.col("embedding").isNotNull()).select(
        "vec_id", "embedding", F.expr(_norm("embedding")).alias("nrm")
    )
    cent = base.filter(
        (F.col("vec_id") % IVF_CENT_STRIDE) == IVF_CENT_OFFSET
    ).select(
        F.col("vec_id").alias("cent_id"),
        F.col("embedding").alias("ce"),
        F.col("nrm").alias("cn"),
    )
    assign = ivf_assignments(emb)
    # residual of every corpus vector against its HOME centroid: one
    # broadcast of the (cent_id, ce) table into the assignment join — the
    # corpus never shuffles beyond the one (vec_id)-keyed assignment row
    res = (
        base.join(assign, ["vec_id"])
        .join(F.broadcast(cent.select("cent_id", "ce")), ["cent_id"])
        .select(
            "vec_id",
            "cent_id",
            F.expr(RESID.format(x="embedding", c="ce")).alias("res"),
        )
    )
    # residual codebook: the strided PQ seeds' own residuals, j-indexed —
    # bounded by PQ_CODEBOOK rows, broadcast into both scoring passes
    cb = res.filter(
        (F.col("vec_id") < PQ_CENT_STRIDE * PQ_CODEBOOK)
        & (F.col("vec_id") % PQ_CENT_STRIDE == PQ_CENT_OFFSET)
    ).select(
        ((F.col("vec_id") - PQ_CENT_OFFSET) / PQ_CENT_STRIDE)
        .cast("long")
        .alias("j"),
        F.col("res").alias("cbe"),
    )
    sub_r = f"slice(res, m * {PQ_SUBDIM} + 1, {PQ_SUBDIM})"
    sub_c = f"slice(cbe, m * {PQ_SUBDIM} + 1, {PQ_SUBDIM})"
    d_expr = sqdist(sub_r, sub_c, "spark")
    guarded = (
        f"coalesce(nanvl({d_expr}, CAST({PQ_SENTINEL} AS DOUBLE)), "
        f"CAST({PQ_SENTINEL} AS DOUBLE))"
    )
    rdt = (
        res.crossJoin(F.broadcast(cb))
        .select(
            "vec_id",
            "cent_id",
            "j",
            "res",
            "cbe",
            F.explode(F.expr(f"sequence(0, {PQ_M - 1})")).alias("m"),
        )
        .select(
            "vec_id",
            "cent_id",
            F.col("m").cast("long").alias("m"),
            "j",
            F.expr(guarded).alias("d"),
        )
    )
    codes = (
        rdt.groupBy("vec_id", "cent_id", "m")
        .agg(F.min(F.struct(F.col("d"), F.col("j"))).alias("mn"))
        .select(
            F.col("vec_id").alias("neighbor_id"),
            "cent_id",
            "m",
            F.col("mn.j").alias("code"),
        )
    )
    # query side: one residual PER PROBED LIST, then its own distance table
    probes = ivf_probe_ranks(emb, query_filter).filter(
        F.col("pr") <= nprobe
    ).select("query_id", "cent_id")
    qres = (
        probes.join(
            base.filter(F.expr(query_filter)).select(
                F.col("vec_id").alias("query_id"), "embedding"
            ),
            ["query_id"],
        )
        .join(F.broadcast(cent.select("cent_id", "ce")), ["cent_id"])
        .select(
            "query_id",
            "cent_id",
            F.expr(RESID.format(x="embedding", c="ce")).alias("res"),
        )
    )
    qdt = (
        qres.crossJoin(F.broadcast(cb))
        .select(
            "query_id",
            "cent_id",
            "j",
            "res",
            "cbe",
            F.explode(F.expr(f"sequence(0, {PQ_M - 1})")).alias("m"),
        )
        .select(
            "query_id",
            "cent_id",
            F.col("m").cast("long").alias("m"),
            F.col("j").alias("code"),
            F.expr(guarded).alias("d"),
        )
    )
    scored = (
        codes.join(F.broadcast(qdt), ["cent_id", "m", "code"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(dsum("d").alias("adc_dist"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc_nulls_last(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "adc_dist", "rnk")
    )


def ann_ivfadc_trained_topk(
    emb: DataFrame,
    query_filter: str,
    k: int,
    nprobe: int = None,
    rounds: int = IVF_TRAIN_ROUNDS,
) -> DataFrame:
    """IVFADC composed over the Lloyd's-TRAINED coarse quantizer (VERDICT
    r15 task 1's composition half): inverted lists come from
    ``trained_ivf_centroids`` while vectors stay as the strided raw-vector
    PQ codes — exactly ``ann_ivfadc_topk``'s compressed-domain search with
    only the quantizer swapped, so the matrix attributes its recall delta
    to coarse-quantizer training alone.  Same scale shape: broadcast
    centroid scoring for assignment/probing, codes stream once through the
    (cent_id, m, code) equi-join, embeddings never move at query time."""
    from pulsar_pekko_streams_example_spark.functions.numeric import dsum

    nprobe = IVF_NPROBE if nprobe is None else nprobe
    emb = spread(emb)
    base = emb.filter(F.col("embedding").isNotNull()).select(
        "vec_id", "embedding", F.expr(_norm("embedding")).alias("nrm")
    )
    cent = trained_ivf_centroids(emb, rounds).select(
        # coalesce to the unreachable -1: cluster_id is the training
        # argmax pick, and a nullable key here lets a downstream equi-join
        # push isnotnull(<whole assign fold>) INTO the training crossJoin,
        # re-evaluating the fold per row as a join residual (the
        # dup_span_coverage lesson; plan-audited).  Oracle twins carry the
        # same coalesce in lockstep.
        F.coalesce(F.col("cluster_id"), F.lit(-1)).alias("cent_id"),
        F.col("centroid").alias("ce"),
        F.expr(_norm("centroid")).alias("cn"),
    )
    scored = base.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        "cent_id",
        F.expr(
            safe_cos(DOT.format(a="embedding", b="ce"), "nrm * cn", "spark")
        ).alias("csim"),
    )
    assign = (
        scored.groupBy("vec_id")
        .agg(
            F.max(
                F.struct(F.col("csim").alias("csim"), (-F.col("cent_id")).alias("neg"))
            ).alias("m")
        )
        .select(
            F.col("vec_id").alias("neighbor_id"), (-F.col("m.neg")).alias("cent_id")
        )
    )
    wq = Window.partitionBy("query_id").orderBy(F.col("csim").desc(), F.col("cent_id"))
    probes = (
        scored.filter(F.expr(query_filter))
        .select(F.col("vec_id").alias("query_id"), "cent_id", "csim")
        .withColumn("pr", F.row_number().over(wq))
        .filter(F.col("pr") <= nprobe)
        .select("query_id", "cent_id")
    )
    codes = pq_codes(pq_distance_table(emb))
    coded_lists = codes.withColumnRenamed("vec_id", "neighbor_id").join(
        assign, ["neighbor_id"]
    )
    qdt = pq_distance_table(emb, row_filter=query_filter).select(
        F.col("vec_id").alias("query_id"),
        "m",
        F.col("j").alias("code"),
        "d",
    )
    probe_tables = probes.join(qdt, ["query_id"])
    adc = (
        coded_lists.join(F.broadcast(probe_tables), ["cent_id", "m", "code"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(dsum("d").alias("adc_dist"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc_nulls_last(), F.col("neighbor_id")
    )
    return (
        adc.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "adc_dist", "rnk")
    )


# --- Trained PQ codebooks (round-16: the PQ half of quantizer training) ------

PQ_TRAIN_ROUNDS = 2


def _pq_dt_from_cb(
    base: DataFrame, cb: DataFrame, row_filter: str | None = None
) -> DataFrame:
    """(vec_id, m, j, d): guarded squared-L2 of every vector's m-th
    subvector against an EXPLICIT (m, j, cbe) codebook frame (M x K rows,
    broadcast).  The trained-codebook twin of pq_distance_table — same
    sentinel contract, same one-map-pass shape."""
    if row_filter is not None:
        base = base.filter(F.expr(row_filter))
    d = sqdist(f"slice(embedding, m * {PQ_SUBDIM} + 1, {PQ_SUBDIM})", "cbe", "spark")
    guarded = (
        f"coalesce(nanvl({d}, CAST({PQ_SENTINEL} AS DOUBLE)), "
        f"CAST({PQ_SENTINEL} AS DOUBLE))"
    )
    return base.crossJoin(F.broadcast(cb)).select(
        "vec_id", "m", "j", F.expr(guarded).alias("d")
    )


def trained_pq_codebook(
    emb: DataFrame, rounds: int = PQ_TRAIN_ROUNDS
) -> DataFrame:
    """(m, j, cbe): per-subspace Lloyd's-trained PQ codebook, seeded from
    the strided codebook's subvectors.  Each round is one guarded-L2
    assignment (the pq_codes argmin, corpus x M x K broadcast scoring) plus
    one exact-decimal mean update — the shuffle carries M x K x subdim
    aggregated rows, never subvectors.  Entries that lose every member
    drop out, deterministically in both engines; a NaN/huge component is
    excluded from the mean but still counted (the dsum contract)."""
    from pulsar_pekko_streams_example_spark.functions.numeric import dsum

    emb = spread(emb)
    base = emb.filter(F.col("embedding").isNotNull()).select("vec_id", "embedding")
    cb = (
        base.filter(
            (F.col("vec_id") < PQ_CENT_STRIDE * PQ_CODEBOOK)
            & (F.col("vec_id") % PQ_CENT_STRIDE == PQ_CENT_OFFSET)
        )
        .select(
            ((F.col("vec_id") - PQ_CENT_OFFSET) / PQ_CENT_STRIDE)
            .cast("long")
            .alias("j"),
            F.explode(F.expr(f"sequence(0, {PQ_M - 1})")).alias("m0"),
            "embedding",
        )
        .select(
            F.col("m0").cast("long").alias("m"),
            "j",
            F.expr(f"slice(embedding, m0 * {PQ_SUBDIM} + 1, {PQ_SUBDIM})").alias(
                "cbe"
            ),
        )
    )
    for _ in range(rounds):
        codes = (
            _pq_dt_from_cb(base, cb)
            .groupBy("vec_id", "m")
            .agg(F.min(F.struct(F.col("d"), F.col("j"))).alias("mn"))
            .select("vec_id", "m", F.col("mn.j").alias("code"))
        )
        upd = (
            codes.join(base, ["vec_id"])
            .select(
                "m",
                "code",
                F.posexplode(
                    F.expr(f"slice(embedding, m * {PQ_SUBDIM} + 1, {PQ_SUBDIM})")
                ).alias("sd0", "comp"),
            )
            .groupBy("m", "code", (F.col("sd0") + 1).cast("long").alias("sd"))
            .agg(
                dsum(F.col("comp").cast("double")).alias("s"),
                F.count(F.lit(1)).alias("n"),
            )
        )
        cb = upd.groupBy("m", F.col("code").alias("j")).agg(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("sd").alias("sd"),
                            (F.col("s") / F.col("n")).alias("c"),
                        )
                    )
                ),
                lambda x: x["c"],
            ).alias("cbe")
        )
    return cb


def ann_pq_trained_topk(
    emb: DataFrame, query_filter: str, k: int, rounds: int = PQ_TRAIN_ROUNDS
) -> DataFrame:
    """PQ/ADC ANN over the Lloyd's-TRAINED per-subspace codebook: identical
    compressed-domain search to ann_pq_adc_topk (codes once at ingest,
    broadcast query tables, (m, code) equi-join scoring), only the codebook
    differs — so ann_method_recall_matrix's pq_trained row attributes its
    recall delta to codebook training alone."""
    from pulsar_pekko_streams_example_spark.functions.numeric import dsum

    emb = spread(emb)
    base = emb.filter(F.col("embedding").isNotNull()).select("vec_id", "embedding")
    cb = trained_pq_codebook(emb, rounds)
    dt = _pq_dt_from_cb(base, cb)
    codes = (
        dt.groupBy("vec_id", "m")
        .agg(F.min(F.struct(F.col("d"), F.col("j"))).alias("mn"))
        .select(
            F.col("vec_id").alias("neighbor_id"), "m", F.col("mn.j").alias("code")
        )
    )
    qdt = _pq_dt_from_cb(base, cb, row_filter=query_filter).select(
        F.col("vec_id").alias("query_id"),
        "m",
        F.col("j").alias("code"),
        "d",
    )
    scored = (
        codes.join(F.broadcast(qdt), ["m", "code"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(dsum("d").alias("adc_dist"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc_nulls_last(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "adc_dist", "rnk")
    )


def ann_ivfadc_residual_refine_topk(
    emb: DataFrame, query_filter: str, k: int, r: int, nprobe: int = None
) -> DataFrame:
    """The COMPLETE IVFADC+R pipeline (Jégou et al. TPAMI 2011 §V + §VI):
    residual-encoded IVFADC shortlists ``r`` candidates per query in the
    compressed domain, then ONLY those r rejoin their full embeddings for
    an exact-cosine re-rank to the final top-``k`` — the exact structure a
    billion-scale deployment ships (coarse prune + residual codes + cheap
    re-rank).  Any true top-k neighbor that survives the shortlist is
    guaranteed into the refined top-k, so refined recall@k >= residual-ADC
    recall@k — pinned.  Refine cost is queries x r full vectors, never a
    second corpus-scan shape; cosine is the shared safe_cos total
    contract (coalesced to -1, the ann_pq_refine_topk posture)."""
    short = ann_ivfadc_residual_topk(emb, query_filter, r, nprobe).select(
        "query_id", "neighbor_id"
    )
    base = emb.filter(F.col("embedding").isNotNull()).select(
        "vec_id", "embedding", F.expr(_norm("embedding")).alias("nrm")
    )
    q = base.filter(F.expr(query_filter)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("nrm").alias("qn"),
    )
    n = base.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("ne"),
        F.col("nrm").alias("nn"),
    )
    rescored = (
        short.join(n, ["neighbor_id"])
        .join(F.broadcast(q), ["query_id"])
        .withColumn(
            "cosine",
            F.coalesce(
                F.expr(safe_cos(DOT.format(a="qe", b="ne"), "qn * nn", "spark")),
                F.lit(-1.0),
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        rescored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "cosine", "rnk")
    )
