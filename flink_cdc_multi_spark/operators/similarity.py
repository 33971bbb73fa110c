"""Similarity search over embedding columns (SURVEY.md §2.11): brute-force
cosine top-k as the exact baseline, and a random-hyperplane LSH-bucketed
variant as the scale path.

Scale design (100 TB / billions of vectors):
- Brute-force joins broadcast the (small) query set against the corpus and
  reduce with a per-query top-k window — one scan, no corpus shuffle.
- The LSH path computes an R-bit hyperplane signature per vector with a
  single vectorized pandas_udf (Arrow batches, numpy matmul — the one place
  Python earns its keep), buckets on the signature, and only scores within
  matching buckets (+ optional multiprobe by flipping each bit).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from flink_cdc_multi_spark.operators.dedup import cosine_sim

IVF_SEED = 42  # deterministic kmeans for reproducible IVF partitions

# component quantization for the portable signature: floor(x * QUANT) is the
# same int64 in numpy, Spark SQL, and DuckDB (identical IEEE double multiply,
# then floor), so every signature computation below is EXACT integer math
LSH_QUANT = 1_000_000


def valid_vectors(df: DataFrame, dim: int, vec_col: str = "embedding") -> DataFrame:
    """Drop NULL and mis-dimensioned vectors before a numpy kernel.

    Every vectorized path here `np.stack`s an Arrow batch; ONE null or
    ragged row in a 100 TB corpus would otherwise kill the whole query
    (r11 hardening — probed, both brute and pq crashed). Contract,
    mirrored by `embedding IS NOT NULL AND len(embedding) = dim` in the
    ANN oracles and pinned by the adversarial gate: such rows can never
    be neighbors, they are dropped — never imputed."""
    c = F.col(vec_col)
    return df.filter(c.isNotNull() & (F.size(c) == dim))


def md5_sign_matrix(dim: int, n_planes: int):
    """±1 hyperplane matrix (dim × n_planes) with signs from md5 parity:
    s(p, i) = +1 iff the 60-bit prefix of md5("p:i") is odd. Sign random
    projection with Rademacher (±1) entries is a standard SRP-LSH family,
    and deriving the signs from a portable hash makes the SAME matrix
    reproducible in numpy (here), Spark Column expressions
    (hyperplane_signature_sql), and DuckDB SQL — which is what lets the
    LSH queries be oracle-checked instead of rows-only."""
    import hashlib

    S = np.empty((dim, n_planes), dtype=np.int64)
    for p in range(n_planes):
        for i in range(dim):
            h60 = int(hashlib.md5(f"{p}:{i}".encode()).hexdigest()[:15], 16)
            S[i, p] = 1 if h60 & 1 else -1
    return S


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """(qid, nid, cos) → (qid, rank, nid): per-query top-k by cosine with
    nid as the deterministic tie-break. Shared tail of every ANN variant;
    compiles to WindowGroupLimit (per-partition top-k heap) before the
    single small exchange on qid.

    Zero-norm candidates are DROPPED before ranking (contract: zero-norm
    cosine pairs drop in all engines). Without the filter they'd survive
    as NULL cosine — sorted NULLS LAST here but NaN-ABOVE-everything under
    DuckDB's ORDER BY DESC — a latent top-k divergence the pair paths'
    `>= threshold` filters never hit; the ext_ann_* oracles mirror the
    drop with NOT isnan(...)."""
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("nid"))
    return (
        scored.filter(F.col("cos").isNotNull())
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("qid", "rank", "nid")
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    vectorized: bool = True,
    dim: int | None = None,
) -> DataFrame:
    """Exact top-k cosine neighbors per query. Output: (qid, rank, nid).

    ``vectorized=True`` (default) is the FAISS-flat shape: the query set
    is collected ONCE at plan-construction time (it is the broadcast side
    — control-plane-sized by contract, same pattern as ivf_topk_fixed's
    centroid collect, inventoried in bench.py's eager-plans note) and
    scored against each Arrow batch of the corpus with one numpy matmul;
    only the per-batch top-k per query (k rows per query per batch, under
    the same (cos desc, nid asc) total order as the final rank) leaves
    the task, so the window input is |batches|·|Q|·k rows, not
    |corpus|·|Q|. Measured 6× faster than the fold form at sf1 (the
    zip_with/aggregate dot runs interpreted per pair — the PERF.md HOF
    lesson; the flat-expression expansion is even worse, see dedup.py).

    ``vectorized=False`` keeps the pure-Column fold form: fully lazy, no
    plan-time work — the right call when the plan itself must stay free
    of execution (or Arrow is unavailable).

    ``dim``: the vector dimension contract. Pass it when the caller knows
    it (the gated queries do — len=64 is in their oracles). When None it
    is inferred as the MODAL (most common) collected query length — never
    the max: one hostile over-length query would otherwise redefine the
    dimension, drop every valid query, and return an empty result
    (ADVICE r11)."""
    arr = F.col(vec_col).cast("array<double>")
    norm = F.sqrt(F.aggregate(arr, F.lit(0.0), lambda s, x: s + x * x))
    if vectorized:
        qrows = queries.filter(F.col(vec_col).isNotNull()).select(
            F.col(id_col).alias("qid"), F.col(vec_col).cast("array<double>").alias("qv")
        ).collect()
        if dim is None:
            from collections import Counter

            counts = Counter(len(r["qv"]) for r in qrows)
            # modal length — never max (one hostile over-length row must
            # not redefine the dimension, ADVICE r11). A TIE is genuinely
            # ambiguous (either tied length could be the hostile one):
            # guessing in either direction hands the dimension to an
            # attacker, so fail at PLAN time with the fix in hand — the
            # gated queries all pass dim explicitly.
            modal = [
                length for length, n in counts.items()
                if n == max(counts.values())
            ] if counts else [0]
            if len(modal) > 1:
                raise ValueError(
                    "ambiguous query vector dimension "
                    f"(tied lengths {sorted(modal)}); pass dim= explicitly"
                )
            dim = modal[0]
        qrows = [r for r in qrows if len(r["qv"]) == dim]  # ragged queries drop
        if not qrows:
            # every query dropped (NULL/ragged): the contract implies an
            # empty RESULT, not a plan-time np.stack([]) ValueError
            # (ADVICE r12). Same (qid, rank, nid) shape as _rank_topk.
            spark = corpus.sparkSession
            return spark.createDataFrame([], "qid long, rank long, nid long")
        qids = np.array([r["qid"] for r in qrows], dtype=np.int64)
        qmat = np.stack([np.asarray(r["qv"], dtype=np.float64) for r in qrows])
        qn = np.sqrt((qmat * qmat).sum(axis=1))
        corpus = valid_vectors(corpus, dim, vec_col)

        def score(it):
            for pdf in it:
                if len(pdf) == 0:  # np.stack([]) raises
                    continue
                mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
                nids = pdf[id_col].to_numpy().astype(np.int64)
                cn = np.sqrt((mat * mat).sum(axis=1))
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos = (qmat @ mat.T) / np.outer(qn, cn)  # Q × batch
                out_q, out_n, out_c = [], [], []
                kk = min(k, cos.shape[1])
                for qi in range(cos.shape[0]):
                    row = cos[qi]
                    keep = ~np.isnan(row)  # zero-norm pairs drop (contract)
                    idx = np.nonzero(keep)[0]
                    if idx.size == 0:
                        continue
                    # per-batch top-k under the FINAL total order
                    # (cos desc, nid asc): lexsort is ascending, so sort
                    # by (-cos, nid) and take the first k
                    order = idx[np.lexsort((nids[idx], -row[idx]))][:kk]
                    out_q.append(np.full(order.size, qids[qi]))
                    out_n.append(nids[order])
                    out_c.append(row[order])
                if not out_q:
                    yield pd.DataFrame({"qid": [], "nid": [], "cos": []}).astype(
                        {"qid": "int64", "nid": "int64", "cos": "float64"}
                    )
                    continue
                yield pd.DataFrame(
                    {
                        "qid": np.concatenate(out_q),
                        "nid": np.concatenate(out_n),
                        "cos": np.concatenate(out_c),
                    }
                )

        scored = corpus.select(id_col, vec_col).mapInPandas(
            score, "qid long, nid long, cos double"
        )
        return _rank_topk(scored, k)
    # same NULL/ragged contract as the vectorized branch (ADVICE r11: a
    # NULL embedding folds to a NULL cos that can surface in the top-k
    # when a query has < k non-null candidates, diverging from the
    # oracles' IS NOT NULL contract)
    if dim is not None:
        corpus = valid_vectors(corpus, dim, vec_col)
        queries = valid_vectors(queries, dim, vec_col)
    else:
        corpus = corpus.filter(F.col(vec_col).isNotNull())
        queries = queries.filter(F.col(vec_col).isNotNull())
    c = corpus.select(arr.alias("cv"), F.col(id_col).alias("nid"), norm.alias("cn"))
    q = queries.select(arr.alias("qv"), F.col(id_col).alias("qid"), norm.alias("qn"))
    dot = F.aggregate(
        F.zip_with(F.col("qv"), F.col("cv"), lambda x, y: x * y),
        F.lit(0.0),
        lambda s, x: s + x,
    )
    # norms precomputed per vector (same arithmetic as cosine_sim → same
    # bits); the per-pair work is one fold, not three
    scored = c.crossJoin(F.broadcast(q)).select(
        "qid", "nid", F.try_divide(dot, F.col("qn") * F.col("cn")).alias("cos")
    )
    return _rank_topk(scored, k)


def hyperplane_signature(
    df: DataFrame,
    dim: int,
    n_planes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "bucket",
) -> DataFrame:
    """R-bit hyperplane signature (sign of S·q per plane, q = the
    LSH_QUANT-quantized vector) as a long. S is the portable md5-derived
    ±1 matrix (md5_sign_matrix), regenerated identically inside every Arrow
    batch — no closure-captured broadcast needed at this size. All integer
    math after quantization, so hyperplane_signature_sql and a DuckDB
    oracle produce bit-identical buckets."""

    @F.pandas_udf(T.LongType())
    def sig(vs: pd.Series) -> pd.Series:
        S = md5_sign_matrix(dim, n_planes)
        mat = np.stack(vs.to_numpy())  # (batch, dim) float64
        q = np.floor(mat * LSH_QUANT).astype(np.int64)
        bits = (q @ S) > 0  # exact int64 dots, (batch, n_planes)
        weights = 1 << np.arange(n_planes, dtype=np.int64)
        return pd.Series((bits @ weights).astype(np.int64))

    return df.select(
        F.col(id_col), F.col(vec_col), sig(F.col(vec_col).cast("array<double>")).alias(out_col)
    )


def hyperplane_signature_sql(
    df: DataFrame,
    dim: int,
    n_planes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "bucket",
) -> DataFrame:
    """Pure Column-expression twin of hyperplane_signature — same buckets,
    bit for bit (integer math throughout; asserted by
    tests/test_extensions.py). This is the shape the DuckDB oracles mirror:
    explode components, broadcast-join the (dim × n_planes)-row sign table,
    two partial-aggregated groupBys. The pandas_udf form is the hot path
    (one matmul per Arrow batch); this one exists to prove portability and
    to document the oracle's plan in Spark terms."""
    from flink_cdc_multi_spark.operators.dedup import _md5_hash60

    spark = df.sparkSession
    planes = (
        spark.range(n_planes)
        .select(F.col("id").cast("int").alias("p"))
        .crossJoin(spark.range(dim).select(F.col("id").cast("int").alias("i")))
        .select(
            "p",
            "i",
            F.when(_md5_hash60(F.concat_ws(":", "p", "i")) % 2 == 1, F.lit(1))
            .otherwise(F.lit(-1))
            .cast("long")
            .alias("sgn"),
        )
    )
    comp = df.select(
        F.col(id_col).alias("__sid"),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("i", "x"),
    ).withColumn("q", F.floor(F.col("x") * LSH_QUANT).cast("long"))
    dots = (
        comp.join(F.broadcast(planes), "i")
        .groupBy("__sid", "p")
        .agg(F.sum(F.col("sgn") * F.col("q")).alias("d"))
    )
    buckets = dots.groupBy("__sid").agg(
        F.sum(
            F.when(F.col("d") > 0, F.expr("shiftleft(CAST(1 AS BIGINT), p)")).otherwise(
                F.lit(0).cast("long")
            )
        ).alias(out_col)
    )
    return df.join(
        buckets, F.col(id_col) == F.col("__sid")
    ).select(F.col(id_col), F.col(vec_col), F.col(out_col))


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 3,
    n_planes: int = 12,
    multiprobe: bool = True,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    fused: bool = True,
) -> DataFrame:
    """Approximate top-k: score only corpus vectors whose signature matches
    the query's (or differs by one bit with multiprobe). Recall/cost is
    tuned by n_planes; candidates join on a compact long key.

    ``fused=True`` (default, r17) is the ivf_topk_fixed/brute_force_topk
    shape: the control-plane-sized query set is collected at plan time,
    its buckets + multiprobe sets computed driver-side with the SAME
    exact-int64 signature kernel, and ONE mapInPandas pass over the
    corpus computes signatures, masks candidates per query (membership
    in the probe set — inherently deduplicated, so the pair-key
    dropDuplicates exchange disappears), and scores them with
    bit-identical left-to-right cosine fold arithmetic, emitting only
    the per-batch top-k per query. vs the unfused plan this deletes the
    corpus-side DOUBLE sig evaluation (the pushed isnotnull(bucket)
    filter re-evaluates the UDF — guide §4.4, the same trap
    ivf_topk_fixed had), the query-side sig hop + 13-way probe explode +
    BroadcastExchange, the join + dropDuplicates SortAggregate pair, and
    the interpreted per-candidate zip_with/aggregate cosine fold.
    ``fused=False`` keeps the lazy join form (no plan-time collect)."""
    corpus = valid_vectors(corpus, dim, vec_col)
    queries = valid_vectors(queries, dim, vec_col)
    if fused:
        arr = F.col(vec_col).cast("array<double>")
        qrows = queries.select(
            F.col(id_col).alias("qid"), arr.alias("qv")
        ).collect()
        if not qrows:
            spark = corpus.sparkSession
            return spark.createDataFrame([], "qid long, rank long, nid long")
        qids = np.array([r["qid"] for r in qrows], dtype=np.int64)
        qmat = np.stack([np.asarray(r["qv"], dtype=np.float64) for r in qrows])
        # query buckets: the sig kernel, run once driver-side (exact
        # int64 — same bits as the corpus-side kernel below)
        S = md5_sign_matrix(dim, n_planes)
        weights = 1 << np.arange(n_planes, dtype=np.int64)
        qz = np.floor(qmat * LSH_QUANT).astype(np.int64)
        qbuckets = (((qz @ S) > 0) @ weights).astype(np.int64)
        if multiprobe:
            probe_sets = [np.concatenate(([b], b ^ weights)) for b in qbuckets]
        else:
            probe_sets = [np.array([b], dtype=np.int64) for b in qbuckets]
        # query norms in cosine_sim's LEFT-TO-RIGHT fold order
        qacc = np.zeros(qmat.shape[0])
        for j in range(dim):
            v = qmat[:, j]
            qacc = qacc + v * v
        qn = np.sqrt(qacc)

        def score(it):
            S_t = md5_sign_matrix(dim, n_planes)  # once per task
            w_t = 1 << np.arange(n_planes, dtype=np.int64)
            for pdf in it:
                if len(pdf) == 0:
                    continue
                mat = np.stack(pdf["cv"].to_numpy())
                nids = pdf["nid"].to_numpy().astype(np.int64)
                cz = np.floor(mat * LSH_QUANT).astype(np.int64)
                csig = (((cz @ S_t) > 0) @ w_t).astype(np.int64)
                cols = np.ascontiguousarray(mat.T)
                acc = np.zeros(mat.shape[0])
                for j in range(dim):
                    v = cols[j]
                    acc = acc + v * v
                cn = np.sqrt(acc)
                out_q, out_n, out_c = [], [], []
                for qi in range(qids.size):
                    mask = np.isin(csig, probe_sets[qi])
                    if not mask.any():
                        continue
                    sub = cols[:, mask]
                    qv = qmat[qi]
                    dot = np.zeros(sub.shape[1])
                    for j in range(dim):
                        dot = dot + qv[j] * sub[j]
                    denom = qn[qi] * cn[mask]
                    # try_divide contract: divisor 0 → NULL → dropped;
                    # NaN (NaN inputs only) drops like brute_force_topk
                    with np.errstate(divide="ignore", invalid="ignore"):
                        cos = dot / denom
                    live = (denom != 0.0) & ~np.isnan(cos)
                    if not live.any():
                        continue
                    cos = cos[live]
                    nn = nids[mask][live]
                    sel = np.lexsort((nn, -cos))[: min(k, cos.size)]
                    out_q.append(np.full(sel.size, qids[qi]))
                    out_n.append(nn[sel])
                    out_c.append(cos[sel])
                if out_q:
                    yield pd.DataFrame(
                        {
                            "qid": np.concatenate(out_q),
                            "nid": np.concatenate(out_n),
                            "cos": np.concatenate(out_c),
                        }
                    )

        scored = corpus.select(
            F.col(id_col).alias("nid"), arr.alias("cv")
        ).mapInPandas(score, "qid long, nid long, cos double")
        return _rank_topk(scored, k)
    c = hyperplane_signature(corpus, dim, n_planes, id_col, vec_col).select(
        F.col(id_col).alias("nid"),
        F.col(vec_col).cast("array<double>").alias("cv"),
        F.col("bucket").alias("cbucket"),
    )
    q = hyperplane_signature(queries, dim, n_planes, id_col, vec_col).select(
        F.col(id_col).alias("qid"),
        F.col(vec_col).cast("array<double>").alias("qv"),
        F.col("bucket"),
    )
    if multiprobe:
        probes = F.array(
            F.col("bucket"),
            *[
                F.expr(f"bucket ^ {1 << b}").alias(f"p{b}")
                for b in range(n_planes)
            ],
        )
        q = q.select("qid", "qv", F.explode(probes).alias("bucket"))
    cand = c.join(F.broadcast(q), F.col("cbucket") == F.col("bucket")).dropDuplicates(
        ["qid", "nid"]
    )
    scored = cand.select("qid", "nid", cosine_sim(F.col("qv"), F.col("cv")).alias("cos"))
    return _rank_topk(scored, k)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    n_clusters: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    model=None,
    fit_sample_rows: int = 100_000,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: k-means partitions the corpus
    into n_clusters cells; each query scores only the members of its
    n_probe nearest cells.

    TRAINING HELPER, not the gated query path: with ``model=None`` this is
    EAGER at plan-construction time (a ``count()`` plus an ML fit), and its
    output is recall-tested but not oracle-hashed — the driver-gated IVF
    query is ``ivf_topk_fixed`` (deterministic integer-quantized
    centroids, fully hash-checked). Use this form to FIT an index once and
    pass the ``model`` to later calls; use ``ivf_topk_fixed`` when the
    centroids are already known/fixed.

    Scale shape: the index assign is one ML transform over the corpus; the
    probe step broadcasts (query × n_probe) rows and equi-joins on the cell
    id, so the per-query candidate set is |corpus|·n_probe/n_clusters.
    Deterministic via a fixed seed. Recall/cost is tuned with
    n_clusters/n_probe exactly like FAISS IVF.

    The k-means fit runs on a seeded sample capped at ``fit_sample_rows``
    (centroids converge on a sample; fitting on 100 TB of vectors buys no
    recall), and a prebuilt ``model`` can be passed to amortize the index
    across query batches — the FAISS train-once/probe-many shape.
    """
    import numpy as np
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    # NULL vectors break both the kmeans fit and the numpy cell kernel;
    # dim is unknown pre-fit, so this path drops nulls only (the fixed/
    # gated paths also enforce the dimension — see valid_vectors)
    corpus = corpus.filter(F.col(vec_col).isNotNull())
    queries = queries.filter(F.col(vec_col).isNotNull())
    arr = F.col(vec_col).cast("array<double>")
    norm = F.sqrt(F.aggregate(arr, F.lit(0.0), lambda s, x: s + x * x))
    c = corpus.select(
        arr.alias("cv"), F.col(id_col).alias("nid"), norm.alias("cn")
    ).withColumn("features", array_to_vector(F.col("cv")))

    if model is None:
        n = c.count()
        fit_input = (
            c
            if n <= fit_sample_rows
            else c.sample(fraction=fit_sample_rows / n, seed=IVF_SEED)
        )
        km = KMeans(
            k=n_clusters, seed=IVF_SEED, featuresCol="features", predictionCol="cell"
        )
        model = km.fit(fit_input)
    indexed = model.transform(c).select("nid", "cv", "cn", "cell")

    centers = np.stack([np.asarray(ctr) for ctr in model.clusterCenters()])

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def probe_cells(vs: pd.Series) -> pd.Series:
        mat = np.stack(vs.to_numpy())
        d2 = ((mat[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
        order = np.argsort(d2, axis=1)[:, :n_probe]
        return pd.Series([row.astype(int).tolist() for row in order])

    q = queries.select(
        arr.alias("qv"), F.col(id_col).alias("qid"), norm.alias("qn")
    ).withColumn("cell", F.explode(probe_cells(F.col("qv"))))

    dot = F.aggregate(
        F.zip_with(F.col("qv"), F.col("cv"), lambda x, y: x * y),
        F.lit(0.0),
        lambda s, x: s + x,
    )
    scored = indexed.join(F.broadcast(q), "cell").select(
        "qid", "nid", F.try_divide(dot, F.col("qn") * F.col("cn")).alias("cos")
    )
    return _rank_topk(scored, k)


def ivf_topk_fixed(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 3,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    fused: bool = True,
) -> DataFrame:
    """IVF top-k with a DETERMINISTIC, engine-portable coarse quantizer.

    ``centroids`` is a tiny DataFrame (``id_col``, ``vec_col``) — e.g. a
    fixed id-range slice of the corpus, or centers exported from a separate
    training job. It is collected driver-side (control-plane: n_clusters
    rows, like the routing manifest) and embedded as a literal array, so:

    - cell assignment is a PER-ROW expression over the literal centroids —
      the corpus never shuffles for indexing (same property as
      KMeansModel.transform in ivf_topk, without the engine-local model);
    - cell choice and probe order use integer-quantized (floor(x·1e6))
      squared-L2 distance — exact int64 arithmetic, bit-identical in
      Spark, numpy, and DuckDB, which is what lets ext_ann_ivf carry a
      value-hash oracle instead of a rows-only check (the same LSH_QUANT
      trick as hyperplane_signature);
    - final scoring is the cosine fold brute_force_topk already
      hash-matches with.

    ``fused=True`` (default, r17) is the brute_force_topk shape: the query
    set is collected ONCE at plan-construction time (broadcast-side,
    control-plane-sized by contract — inventoried with the centroid collect
    in bench.py's eager-plans note), its probe sets are computed driver-side
    with the SAME int64 kernel, and ONE mapInPandas pass over the corpus
    assigns cells, masks candidates per query, and scores them — emitting
    only the per-batch top-k per query under the final (cos desc, nid)
    total order. vs the unfused plan this deletes one ArrowEvalPython hop
    on the query side, the corpus-side DOUBLE cell_of evaluation (the
    optimizer pushes the join's isnotnull(cell) below the UDF and then
    re-evaluates it — guide §4.4's duplication trap, PERF.md "r17
    OPTIMIZATION phase" wave 5), the BroadcastHashJoin,
    and — the scale item — the per-candidate-pair INTERPRETED zip_with/
    aggregate cosine fold, replaced by vectorized numpy with bit-identical
    left-to-right fold order (each step one IEEE multiply+add in the same
    sequence, so cos carries the exact bits of cosine_sim; zero-norm pairs
    drop exactly where try_divide yields NULL). Candidate set per batch is
    |batch|·n_probe/n_clusters rows per query; only |Q|·k rows per batch
    leave the task. ``fused=False`` keeps the lazy two-kernel + broadcast
    join form (no plan-time query collect).

    Output: (qid, rank, nid) like brute_force_topk.
    """
    arr = F.col(vec_col).cast("array<double>")
    cent_rows = sorted(
        centroids.select(F.col(id_col).cast("long").alias("cid"), arr.alias("cv")).collect(),
        key=lambda r: r["cid"],
    )
    # quantized int64 centroid matrix, cid-ascending — closure-captured by
    # the kernels below (n_clusters × dim longs; tiny, no broadcast needed)
    cids = np.array([r["cid"] for r in cent_rows], dtype=np.int64)
    C = np.stack(
        [np.floor(np.asarray(r["cv"], dtype=np.float64) * LSH_QUANT).astype(np.int64)
         for r in cent_rows]
    )
    dim = C.shape[1]
    corpus = valid_vectors(corpus, dim, vec_col)
    queries = valid_vectors(queries, dim, vec_col)

    if fused:
        qrows = queries.select(
            F.col(id_col).alias("qid"), arr.alias("qv")
        ).collect()
        if not qrows:
            spark = corpus.sparkSession
            return spark.createDataFrame([], "qid long, rank long, nid long")
        qids = np.array([r["qid"] for r in qrows], dtype=np.int64)
        qmat = np.stack([np.asarray(r["qv"], dtype=np.float64) for r in qrows])
        # probe sets: the probes_of kernel, run once driver-side — same
        # int64 quantized d2, same stable argsort (ties to the lower cid)
        qz = np.floor(qmat * LSH_QUANT).astype(np.int64)
        dq = qz[:, None, :] - C[None, :, :]
        order = np.argsort((dq * dq).sum(axis=2), axis=1, kind="stable")[:, :n_probe]
        probe_sets = [cids[row] for row in order]
        # query norms in cosine_sim's LEFT-TO-RIGHT fold order: each step
        # is s + (v*v), one IEEE multiply then one add — same bit sequence
        # as F.aggregate(a, 0.0, s + v*v), vectorized across queries
        qacc = np.zeros(qmat.shape[0])
        for j in range(dim):
            v = qmat[:, j]
            qacc = qacc + v * v
        qn = np.sqrt(qacc)

        def score(it):
            for pdf in it:
                if len(pdf) == 0:
                    continue
                mat = np.stack(pdf["cv"].to_numpy())
                nids = pdf["nid"].to_numpy().astype(np.int64)
                # cell assignment: cell_of's kernel (argmin = first min;
                # C is cid-ascending so ties break to the lower cid)
                cz = np.floor(mat * LSH_QUANT).astype(np.int64)
                dc = cz[:, None, :] - C[None, :, :]
                cells = cids[np.argmin((dc * dc).sum(axis=2), axis=1)]
                cols = np.ascontiguousarray(mat.T)  # dim × B for the folds
                acc = np.zeros(mat.shape[0])
                for j in range(dim):
                    v = cols[j]
                    acc = acc + v * v
                cn = np.sqrt(acc)
                out_q, out_n, out_c = [], [], []
                for qi in range(qids.size):
                    mask = np.isin(cells, probe_sets[qi])
                    if not mask.any():
                        continue
                    sub = cols[:, mask]
                    qv = qmat[qi]
                    dot = np.zeros(sub.shape[1])
                    for j in range(dim):
                        dot = dot + qv[j] * sub[j]
                    denom = qn[qi] * cn[mask]
                    # try_divide contract: divisor 0 → NULL → dropped by
                    # _rank_topk's isNotNull (zero-norm pairs drop in all
                    # engines); NaN cos (NaN inputs only) drops like the
                    # brute_force_topk kernel and the oracles' guards
                    with np.errstate(divide="ignore", invalid="ignore"):
                        cos = dot / denom
                    live = (denom != 0.0) & ~np.isnan(cos)
                    if not live.any():
                        continue
                    cos = cos[live]
                    nn = nids[mask][live]
                    # per-batch top-k under the FINAL total order
                    # (cos desc, nid asc) — lexsort is ascending
                    sel = np.lexsort((nn, -cos))[: min(k, cos.size)]
                    out_q.append(np.full(sel.size, qids[qi]))
                    out_n.append(nn[sel])
                    out_c.append(cos[sel])
                if out_q:
                    yield pd.DataFrame(
                        {
                            "qid": np.concatenate(out_q),
                            "nid": np.concatenate(out_n),
                            "cos": np.concatenate(out_c),
                        }
                    )

        scored = corpus.select(
            F.col(id_col).alias("nid"), arr.alias("cv")
        ).mapInPandas(score, "qid long, nid long, cos double")
        return _rank_topk(scored, k)

    def _d2(vs: pd.Series) -> np.ndarray:
        # exact int64 squared-L2 to every centroid: floor(x·1e6) is the
        # same int64 in numpy, Spark SQL, and DuckDB (identical IEEE
        # multiply then floor — the LSH_QUANT contract), so cell choice and
        # probe order are bit-identical across engines. One vectorized op
        # per Arrow batch — never an interpreted per-row HOF fold
        # (PERF.md lesson).
        mat = np.stack(vs.to_numpy())
        q = np.floor(mat * LSH_QUANT).astype(np.int64)
        d = q[:, None, :] - C[None, :, :]
        return (d * d).sum(axis=2)

    @F.pandas_udf(T.LongType())
    def cell_of(vs: pd.Series) -> pd.Series:
        d2 = _d2(vs)
        # argmin takes the FIRST min; C is cid-ascending, so ties break to
        # the lower cid — same order as the oracle's (d2, cid) sort
        return pd.Series(cids[np.argmin(d2, axis=1)])

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def probes_of(vs: pd.Series) -> pd.Series:
        d2 = _d2(vs)
        order = np.argsort(d2, axis=1, kind="stable")[:, :n_probe]
        return pd.Series([cids[row].tolist() for row in order])

    # corpus: cell assignment is row-local (one Arrow-batched kernel) — the
    # corpus never shuffles for indexing
    c = corpus.select(
        F.col(id_col).alias("nid"), arr.alias("cv")
    ).withColumn("cell", cell_of(F.col("cv")))
    # queries: n_probe nearest cells, exploded (query set is small by
    # contract — it gets broadcast into the candidate join)
    q = queries.select(
        F.col(id_col).alias("qid"), arr.alias("qv")
    ).select("qid", "qv", F.explode(probes_of(F.col("qv"))).alias("cell"))
    cand = c.join(F.broadcast(q), "cell")
    scored = cand.select("qid", "nid", cosine_sim(F.col("qv"), F.col("cv")).alias("cos"))
    return _rank_topk(scored, k)


def pq_topk_fixed(
    corpus: DataFrame,
    queries: DataFrame,
    codebook: DataFrame,
    m: int = 8,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization ANN (round 11): asymmetric-distance top-k over
    PQ codes — the memory-bound scale path (8 one-byte codes stand in for
    a 256-byte vector, so a billion-vector index fits where raw floats
    cannot; IVF prunes WORK, PQ compresses STATE).

    Deterministic, engine-portable variant: the per-subspace codebooks
    are the sub-vectors of the caller-chosen ``codebook`` frame (the
    ext_ann_ivf "corpus vectors as model" idiom — kmeans-trained
    codebooks would be engine-local and uncheckable). All distances are
    exact integers in LSH_QUANT-floored component space, so encode
    (argmin d², ties to lowest codeword id), the query ADC lookup
    tables, and the final (dist asc, nid asc) ranking replay bit-exactly
    in the DuckDB oracle.

    Plan-time collects (documented eager-plan contract, bench.py note):
    the codebook (|codewords| rows — the trained model) and the query
    set (control-plane-sized broadcast side, as in brute_force_topk).
    Per Arrow batch of the corpus: encode = m small (batch × codewords ×
    sub) numpy reductions — never one (batch, m, codewords, sub)
    allocation — then ADC via m LUT gathers; only per-batch top-k
    candidates leave the task, so the global window sees
    |batches|·|Q|·k rows, not |corpus|·|Q|."""
    arr = F.col(vec_col).cast("array<double>")
    cb_rows = sorted(
        codebook.select(F.col(id_col).alias("cid"), arr.alias("cv")).collect()
    )
    cmat = np.stack([np.asarray(r["cv"], dtype=np.float64) for r in cb_rows])
    cq = np.floor(cmat * LSH_QUANT).astype(np.int64)
    ncb, dim = cq.shape
    assert dim % m == 0, "m must divide the embedding dimension"
    sub = dim // m
    csub = cq.reshape(ncb, m, sub)
    corpus = valid_vectors(corpus, dim, vec_col)
    queries = valid_vectors(queries, dim, vec_col)

    q_rows = sorted(
        queries.select(F.col(id_col).alias("qid"), arr.alias("qv")).collect()
    )
    qids = np.array([r["qid"] for r in q_rows], dtype=np.int64)
    qq = np.floor(
        np.stack([np.asarray(r["qv"], dtype=np.float64) for r in q_rows])
        * LSH_QUANT
    ).astype(np.int64)
    qsub = qq.reshape(len(qids), m, sub)
    # ADC lookup table: lut[q, j, c] = ||qsub[q,j] - csub[c,j]||² (int64)
    lut = (
        ((qsub[:, None, :, :] - csub[None, :, :, :]) ** 2).sum(-1).transpose(0, 2, 1)
    )

    def score(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            nids = pdf[id_col].to_numpy().astype(np.int64)
            v = np.floor(
                np.stack(pdf[vec_col].to_numpy()).astype(np.float64) * LSH_QUANT
            ).astype(np.int64)
            vsub = v.reshape(len(nids), m, sub)
            dist = np.zeros((len(qids), len(nids)), dtype=np.int64)
            for j in range(m):
                d2 = ((vsub[:, None, j, :] - csub[None, :, j, :]) ** 2).sum(-1)
                codes_j = d2.argmin(1)  # first min = lowest cid (contract)
                dist += lut[:, j, codes_j]
            kk = min(k, len(nids))
            out_q, out_n, out_d = [], [], []
            for qi in range(len(qids)):
                order = np.lexsort((nids, dist[qi]))[:kk]
                out_q.append(np.full(order.size, qids[qi]))
                out_n.append(nids[order])
                out_d.append(dist[qi][order])
            yield pd.DataFrame(
                {
                    "qid": np.concatenate(out_q),
                    "nid": np.concatenate(out_n),
                    "dist": np.concatenate(out_d),
                }
            )

    scored = corpus.select(id_col, vec_col).mapInPandas(
        score, "qid long, nid long, dist long"
    )
    w = Window.partitionBy("qid").orderBy(F.col("dist").asc(), F.col("nid").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("qid", "rank", "nid", "dist")
    )


def _collect_q6_vectors(df: DataFrame, id_col: str, vec_col: str):
    """(ids asc, LSH_QUANT-floored int64 matrix) from a small model frame
    — centroids/codebooks are control-plane-sized collects by contract
    (the documented eager-plan pattern, bench.py note)."""
    arr = F.col(vec_col).cast("array<double>")
    rows = sorted(
        df.filter(F.col(vec_col).isNotNull())
        .select(F.col(id_col).alias("id"), arr.alias("v"))
        .collect()
    )
    ids = np.array([r["id"] for r in rows], dtype=np.int64)
    mat = np.floor(
        np.stack([np.asarray(r["v"], dtype=np.float64) for r in rows])
        * LSH_QUANT
    ).astype(np.int64)
    return ids, mat


def assign_cells(
    df: DataFrame,
    centroids: DataFrame | None,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    trained_centroids=None,
) -> DataFrame:
    """(id, v, cell): deterministic coarse-quantizer assignment — argmin
    int64 d² over the LSH_QUANT-floored components to the collected
    centroids, ties to the lowest cid (C is cid-ascending and argmin
    takes the first min — the oracle's (d2, cid) sort order). Row-local
    Arrow kernel over a broadcast-size model: the corpus never shuffles
    for indexing. Shared by ivf_topk_fixed-style probes and
    semantic_dedup's clustering step.

    ``trained_centroids`` (r15): an (n_cells, dim) int64 grid matrix
    from train_ivf_centroids — cell ids are the matrix row indices,
    same as the ivf_pq trained paths."""
    if trained_centroids is not None:
        C = np.asarray(trained_centroids, dtype=np.int64)
        cent_ids = np.arange(C.shape[0], dtype=np.int64)
    else:
        cent_ids, C = _collect_q6_vectors(centroids, id_col, vec_col)
    assert C.shape[1] == dim
    df = valid_vectors(df, dim, vec_col)
    # |q-c|² via the matmul expansion |q|² + |c|² - 2 q·c in float64 —
    # BLAS-shaped (the naive (batch, cells, dim) difference tensor is
    # 5 GB per 10k Arrow batch at 1024 centroids, exactly the SemDeDup
    # scale-knob setting) and EXACT integer arithmetic whenever every
    # intermediate sum stays below 2^53: 4·dim·max|component|² < 2^53,
    # i.e. |x| < ~37 at LSH_QUANT=1e6 for dim 64. Unit-scale embeddings
    # are far inside that; a batch that ISN'T falls back to a blocked
    # exact-int64 path, so the (d2, cid) tie-break contract the DuckDB
    # oracle replays can never be flipped by float rounding.
    Cf = C.astype(np.float64)
    c2 = (Cf * Cf).sum(axis=1)
    c_absmax = float(np.abs(C).max(initial=0))

    @F.pandas_udf(T.LongType())
    def cell_of(vs: pd.Series) -> pd.Series:
        mat = np.stack(vs.to_numpy())
        q = np.floor(mat * LSH_QUANT)  # float64
        mx = max(float(np.abs(q).max(initial=0.0)), c_absmax)
        if 4.0 * dim * mx * mx < 2.0**53:
            d2 = (q * q).sum(axis=1)[:, None] + c2[None, :] - 2.0 * (q @ Cf.T)
            return pd.Series(cent_ids[np.argmin(d2, axis=1)])
        # exact int64 fallback, blocked over rows AND cells to bound the
        # difference tensor; strict < across cell chunks keeps the LOWEST
        # cid on ties (chunks scan cid-ascending), matching argmin's
        # first-min and the oracle's (d2, cid) order. int64 is itself
        # exact only while 4·dim·mx² < 2^63 — numpy wraps silently past
        # that, so refuse rather than mis-assign (ADVICE r13)
        if 4.0 * dim * mx * mx >= 2.0**63:
            raise ValueError(
                f"component magnitude {mx} overflows exact int64 "
                f"distance at dim {dim}; rescale the vectors"
            )
        qi = q.astype(np.int64)
        best_d = np.full(len(qi), np.iinfo(np.int64).max, dtype=np.int64)
        best_c = np.zeros(len(qi), dtype=np.int64)
        for clo in range(0, len(C), 256):
            chi = min(clo + 256, len(C))
            for rlo in range(0, len(qi), 256):
                rhi = min(rlo + 256, len(qi))
                d = qi[rlo:rhi, None, :] - C[None, clo:chi, :]
                d2 = (d * d).sum(-1)
                cand = d2.argmin(1)
                cd = d2[np.arange(rhi - rlo), cand]
                upd = cd < best_d[rlo:rhi]
                best_d[rlo:rhi][upd] = cd[upd]
                best_c[rlo:rhi][upd] = cand[upd] + clo
        return pd.Series(cent_ids[best_c])

    return df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    ).withColumn("cell", cell_of(F.col("v")))


def _residualize_codebook(B, C):
    """Move a raw-vector codebook onto the RESIDUAL scale: each codeword
    becomes b − centroid[cell(b)] (its own residual). Residuals are much
    smaller than vectors, so raw-scale codewords would quantize them
    catastrophically (measured recall 0.12 vs 0.23, PERF.md r12) — this
    is the deterministic-model stand-in for FAISS training the codebook
    on residuals."""
    bidx = ((B[:, None, :] - C[None, :, :]) ** 2).sum(-1).argmin(1)
    return B - C[bidx]


def _kmeans_lloyd(X, k: int, iters: int, rng) -> "np.ndarray":
    """Deterministic (seeded) numpy k-means: kmeans++ init + Lloyd
    iterations; empty clusters reseed to the point farthest from its
    assigned center. Driver-local over a TRAINING SAMPLE by contract
    (sample-sized, like the centroid/codebook collects) — training on
    100 TB of vectors buys no recall the sample doesn't already have."""
    n = len(X)
    if n == 0:
        raise ValueError("empty training sample")
    # kmeans++ seeding
    centers = np.empty((k, X.shape[1]), dtype=np.float64)
    centers[0] = X[rng.randint(n)]
    d2 = ((X - centers[0]) ** 2).sum(-1)
    for i in range(1, k):
        tot = d2.sum()
        if tot <= 0:  # all points coincide with chosen centers
            centers[i:] = centers[0]
            break
        centers[i] = X[rng.choice(n, p=d2 / tot)]
        d2 = np.minimum(d2, ((X - centers[i]) ** 2).sum(-1))
    x2 = (X * X).sum(-1)  # hoisted: X never changes across iterations
    for _ in range(iters):
        # |x−c|² via the matmul expansion |x|² + |c|² − 2x·c — the naive
        # (n, k, dim) difference tensor is the assign_cells-banned shape
        # (~52 GB at the documented 100k-sample/1024-cell/64-dim knob);
        # this is BLAS-shaped and O(n·k) memory. Training is float64 by
        # nature, so the expansion's rounding is fine here (the EXACT
        # int64 contract lives in the encode/serve paths, not the fit).
        c2 = (centers * centers).sum(-1)
        d2all = x2[:, None] + c2[None, :] - 2.0 * (X @ centers.T)
        assign = d2all.argmin(1)
        dmin = d2all[np.arange(n), assign]
        moved = False
        for i in range(k):
            mask = assign == i
            if mask.any():
                nc = X[mask].mean(axis=0)
            else:
                nc = X[dmin.argmax()]  # reseed empty cluster
            if not np.array_equal(nc, centers[i]):
                centers[i] = nc
                moved = True
        if not moved:
            break
    return centers


def train_ivf_centroids(
    corpus: DataFrame,
    n_cells: int = 16,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_rows: int = 100_000,
    iters: int = 25,
    seed: int = IVF_SEED,
):
    """Trained coarse-quantizer centroids (r13 — the other half of the
    FAISS training story next to train_pq_codewords): seeded
    kmeans++/Lloyd over a capped corpus sample in the int64 LSH_QUANT
    space, centers rounded back to the grid. Returns an (n_cells, dim)
    int64 matrix for write_ann_index(trained_centroids=...) /
    ivf_pq_topk_fixed(trained_centroids=...). Unlike the codebook there
    is no scale subtlety — a centroid is a plain vector — but trained
    cells balance the inverted lists (fixed data-vector centroids leave
    cells as lopsided as the data), which bounds both probe cost and the
    in-cell work of everything built on assign_cells. ``dim`` defaults
    to the modal vector length contract being enforced upstream — pass
    it explicitly (the gated queries' oracles pin len = 64)."""
    if dim is None:
        raise ValueError("pass dim explicitly (the vector length contract)")
    arr = F.col(vec_col).cast("array<double>")
    cdf = valid_vectors(corpus, dim, vec_col).select(arr.alias("v"))
    n = cdf.count()
    if n == 0:
        raise ValueError("empty training corpus")
    if n > sample_rows:
        cdf = cdf.sample(fraction=sample_rows / n, seed=seed)
    V = np.floor(
        np.stack([np.asarray(r["v"], dtype=np.float64) for r in cdf.collect()])
        * LSH_QUANT
    ).astype(np.int64)
    C = _kmeans_lloyd(
        V.astype(np.float64), n_cells, iters, np.random.RandomState(seed)
    )
    return np.rint(C).astype(np.int64)


def train_pq_codewords(
    corpus: DataFrame,
    centroids: DataFrame,
    m: int = 8,
    n_codewords: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_rows: int = 100_000,
    iters: int = 25,
    seed: int = IVF_SEED,
    trained_centroids=None,
):
    """FAISS-style residual-TRAINED PQ codewords (r13, VERDICT r12 item
    3 — the r12 finding was that residual ENCODING buys nothing while
    the codewords stay fixed data vectors; FAISS trains k-means per
    subspace ON the residuals, and this is that trainer):

    1. collect a seeded corpus sample (capped at ``sample_rows`` — the
       ivf_topk fit-sample argument: codewords converge on a sample);
    2. coarse-assign each sample vector to its nearest centroid
       (exact int64 d², ties to lowest cid — the assign_cells contract);
    3. per PQ subspace j, run seeded kmeans++/Lloyd over the residual
       sub-vectors (v − centroid[cell])[j·sub:(j+1)·sub];
    4. round the trained centers back to the int64 LSH_QUANT grid so
       ADC stays exact integer arithmetic end to end.

    Returns an (n_codewords, dim) int64 matrix ALREADY on the residual
    scale — feed it to write_ann_index(trained_codewords=...) /
    ivf_pq_topk_fixed(trained_codewords=...) with residual=True (they
    must NOT be re-residualized; the meta records the scale). Training
    is engine-local driver work over a sample by design — the 100 TB
    corpus is only touched by the one distributed encode pass.

    ``trained_centroids`` (int64 matrix from train_ivf_centroids): use
    these as the coarse quantizer instead of collecting ``centroids`` —
    the fully-trained FAISS pipeline trains cells first, then codewords
    on THEIR residuals."""
    if trained_centroids is not None:
        C = np.asarray(trained_centroids, dtype=np.int64)
    else:
        _, C = _collect_q6_vectors(centroids, id_col, vec_col)
    dim = C.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    arr = F.col(vec_col).cast("array<double>")
    cdf = valid_vectors(corpus, dim, vec_col).select(arr.alias("v"))
    n = cdf.count()
    if n == 0:
        raise ValueError("empty training corpus")
    if n > sample_rows:
        cdf = cdf.sample(fraction=sample_rows / n, seed=seed)
    V = np.floor(
        np.stack([np.asarray(r["v"], dtype=np.float64) for r in cdf.collect()])
        * LSH_QUANT
    ).astype(np.int64)
    # coarse assign via the |v|²+|c|²−2v·C expansion (the difference
    # tensor is the assign_cells-banned shape). Exact in float64 while
    # every intermediate sum stays below 2^53 — the assign_cells guard:
    # 4·dim·max|component|² < 2^53 (unit-scale embeddings are far
    # inside). A sample that ISN'T falls back to a blocked exact-int64
    # path so the tie-to-lowest-cid contract can never be flipped by
    # float rounding (r13 review: the guardless expansion silently
    # broke the documented contract for large-magnitude vectors).
    mx = float(max(np.abs(V).max(initial=0), np.abs(C).max(initial=0)))
    if 4.0 * dim * mx * mx < 2.0**53:
        Vf = V.astype(np.float64)
        Cf = C.astype(np.float64)
        c2 = (Cf * Cf).sum(-1)
        cidx = (
            ((Vf * Vf).sum(-1)[:, None] + c2[None, :] - 2.0 * (Vf @ Cf.T))
            .argmin(1)
        )
    else:
        # the int64 path is itself exact only while 4·dim·mx² < 2^63
        # (|diff| ≤ 2mx, summed over dim); numpy int64 overflow wraps
        # SILENTLY, which is the exact failure this fallback exists to
        # prevent — refuse rather than mis-assign (ADVICE r13)
        if 4.0 * dim * mx * mx >= 2.0**63:
            raise ValueError(
                f"component magnitude {mx} overflows exact int64 distance "
                f"at dim {dim}; rescale the vectors before training"
            )
        cidx = np.empty(len(V), dtype=np.int64)
        for lo in range(0, len(V), 256):  # block rows AND keep cells whole
            hi = min(lo + 256, len(V))
            d = V[lo:hi, None, :] - C[None, :, :]
            cidx[lo:hi] = (d * d).sum(-1).argmin(1)
    R = V - C[cidx]
    B = np.empty((n_codewords, dim), dtype=np.int64)
    for j in range(m):
        X = R[:, j * sub : (j + 1) * sub].astype(np.float64)
        cw = _kmeans_lloyd(X, n_codewords, iters, np.random.RandomState(seed + j))
        B[:, j * sub : (j + 1) * sub] = np.rint(cw).astype(np.int64)
    return B


def _ivfpq_encode(
    corpus: DataFrame,
    cent_ids,
    C,
    bsub,
    m: int,
    sub: int,
    id_col: str,
    vec_col: str,
    residual: bool = False,
) -> DataFrame:
    """ONE corpus pass (Arrow kernel) → (nid, cell, codes): coarse cell =
    argmin int64 d² to the centroids (ties to lowest cid), PQ code per
    subspace = argmin d² to the sub-codebook (ties to lowest codeword
    id). With ``residual=True`` (r12 — the textbook FAISS IVF-PQ form)
    the PQ encodes the RESIDUAL v − centroid[cell] instead of the raw
    vector: residuals are much smaller than vectors, so the same
    codebook quantizes them more finely at identical storage/compute —
    and the arithmetic stays exact int64 (difference of two quantized
    int64 vectors). Row-local — the corpus never shuffles for
    indexing."""

    def encode(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            nids = pdf[id_col].to_numpy().astype(np.int64)
            v = np.floor(
                np.stack(pdf[vec_col].to_numpy()).astype(np.float64) * LSH_QUANT
            ).astype(np.int64)
            cidx = ((v[:, None, :] - C[None, :, :]) ** 2).sum(-1).argmin(1)
            cells = cent_ids[cidx]
            enc_in = (v - C[cidx]) if residual else v
            vsub = enc_in.reshape(len(nids), m, sub)
            codes = np.empty((len(nids), m), dtype=np.int64)
            for j in range(m):
                d2 = ((vsub[:, None, j, :] - bsub[None, :, j, :]) ** 2).sum(-1)
                codes[:, j] = d2.argmin(1)  # first min = lowest codeword id
            yield pd.DataFrame(
                {"nid": nids, "cell": cells, "codes": list(codes)}
            )

    return corpus.select(id_col, vec_col).mapInPandas(
        encode, "nid long, cell long, codes array<long>"
    )


def _ivfpq_serve(
    coded: DataFrame,
    queries: DataFrame,
    cent_ids,
    C,
    bsub,
    m: int,
    sub: int,
    k: int,
    n_probe: int,
    id_col: str,
    vec_col: str,
    residual: bool = False,
) -> DataFrame:
    """Probe + ADC over an ALREADY-ENCODED corpus (``coded`` = (nid,
    cell, codes) — a live encode or a persisted index scan). The (qid,
    cell) probe list — |Q|·n_probe rows, computed driver-side from the
    collected models — broadcast-joins onto it, so the candidate stream
    is |corpus|·n_probe/n_cells rows of 8-byte ids + m-byte codes, never
    raw vectors; the ADC kernel scores candidates with LUT gathers and
    pre-reduces to per-batch top-k before the WindowGroupLimit global
    rank. No corpus shuffle anywhere."""
    arr = F.col(vec_col).cast("array<double>")
    dim = C.shape[1]
    queries = valid_vectors(queries, dim, vec_col)
    q_rows = sorted(
        queries.select(F.col(id_col).alias("qid"), arr.alias("qv")).collect()
    )
    qids = np.array([r["qid"] for r in q_rows], dtype=np.int64)
    Q = np.floor(
        np.stack([np.asarray(r["qv"], dtype=np.float64) for r in q_rows])
        * LSH_QUANT
    ).astype(np.int64)
    qpos = {int(q): i for i, q in enumerate(qids)}

    # probe list FIRST: per query the n_probe nearest cells by (d2, cid).
    # n_eff keeps probe_idx rectangular when n_probe exceeds the cell
    # count (every query's order has the same min(n_probe, ncells) length)
    qd2 = ((Q[:, None, :] - C[None, :, :]) ** 2).sum(-1)  # (nq, ncells)
    n_eff = min(n_probe, len(cent_ids))
    probe_rows = []
    probe_idx = np.empty((len(qids), n_eff), dtype=np.int64)
    for qi in range(len(qids)):
        order = np.lexsort((cent_ids, qd2[qi]))[:n_eff]
        probe_idx[qi] = order
        probe_rows += [(int(qids[qi]), int(cent_ids[c])) for c in order]

    if residual:
        # LUT per PROBED (query, cell) pair only: ADC approximates
        # ||q − (c_cell + decode(codes))||² = ||(q − c_cell) − decode||²,
        # so the table is the query's residual against each of its
        # n_probe cells — (nq, n_probe, m, ncb), never (nq, ncells, ...):
        # at the documented 1024-centroid scale knob a full per-cell LUT
        # would be gigabytes in the driver AND in every task closure,
        # while only n_probe/ncells of it is ever gathered.
        R = Q[:, None, :] - C[probe_idx]  # (nq, n_eff, dim)
        rsub = R.reshape(len(qids), n_eff, m, sub)
        lut = (
            (rsub[:, :, :, None, :] - bsub.transpose(1, 0, 2)[None, None, :, :, :])
            ** 2
        ).sum(-1)  # (nq, n_eff, m, ncb)
        # candidate rows arrive keyed by (qid, cell): map to the probe SLOT
        slot = {
            (int(qids[qi]), int(cent_ids[probe_idx[qi, s]])): s
            for qi in range(len(qids))
            for s in range(n_eff)
        }
    else:
        qsub = Q.reshape(len(qids), m, sub)
        lut = (
            ((qsub[:, None, :, :] - bsub[None, :, :, :]) ** 2).sum(-1)
            .transpose(0, 2, 1)
        )  # (nq, m, ncb)

    spark = coded.sparkSession
    probes = spark.createDataFrame(probe_rows, "qid long, cell long")
    cand = coded.join(F.broadcast(probes), "cell")

    def adc(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            nids = pdf["nid"].to_numpy().astype(np.int64)
            qidx = np.array([qpos[int(q)] for q in pdf["qid"]], dtype=np.int64)
            codes = np.stack(pdf["codes"].to_numpy()).astype(np.int64)
            dist = np.zeros(len(nids), dtype=np.int64)
            if residual:
                slots = np.array(
                    [slot[(int(q), int(c))]
                     for q, c in zip(pdf["qid"], pdf["cell"])],
                    dtype=np.int64,
                )
                for j in range(m):
                    dist += lut[qidx, slots, j, codes[:, j]]
            else:
                for j in range(m):
                    dist += lut[qidx, j, codes[:, j]]
            out = pd.DataFrame(
                {"qid": pdf["qid"].to_numpy(np.int64), "nid": nids, "dist": dist}
            )
            # per-batch pre-reduction under the final (dist, nid) order
            out = out.sort_values(["qid", "dist", "nid"]).groupby("qid").head(k)
            yield out

    adc_cols = ["qid", "nid", "codes"] + (["cell"] if residual else [])
    scored = cand.select(*adc_cols).mapInPandas(
        adc, "qid long, nid long, dist long"
    )
    w = Window.partitionBy("qid").orderBy(F.col("dist").asc(), F.col("nid").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("qid", "rank", "nid", "dist")
    )


def ivf_pq_topk_fixed(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    codebook: DataFrame,
    m: int = 8,
    k: int = 3,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    residual: bool = False,
    trained_codewords=None,
    trained_centroids=None,
) -> DataFrame:
    """IVF-PQ (round 11): the canonical billion-scale ANN composition —
    the coarse quantizer prunes WORK (each query scores only its
    ``n_probe`` nearest cells, as in ivf_topk_fixed) and PQ compresses
    STATE (candidates are scored through m-byte codes via integer ADC
    LUT gathers, as in pq_topk_fixed). Both models are deterministic
    fixed vector sets, so cells, codes, probe order, ADC distances, and
    the final (dist asc, nid asc) ranking replay bit-exactly in the
    DuckDB oracle.

    ``residual=True`` (r12) is the textbook FAISS form: PQ encodes
    v − centroid[cell] and the per-(query, cell) residual LUTs score
    against it — finer quantization from the same codebook at identical
    storage and candidate-stream cost (recall characterized in PERF.md).
    Still exact int64 end to end, so the residual variant carries its
    own full DuckDB oracle.

    This form encodes the corpus IN the query (one pass, see
    _ivfpq_encode) — right for one-shot scoring. At 100 TB an index is
    built ONCE and served many times: use write_ann_index /
    ivf_pq_topk_indexed to persist the (nid, cell, codes) pass and skip
    the corpus scan on every later query.

    ``trained_codewords`` (r13): an (n_codewords, dim) int64 matrix from
    train_pq_codewords — ALREADY residual-scale, so it is used as-is
    (requires residual=True; ``codebook`` is ignored and may be None).
    ``trained_centroids`` (r13, from train_ivf_centroids): int64 coarse
    centroids used verbatim (``centroids`` may then be None; cell ids =
    0..n_cells-1). Together they are the FAISS-complete form: trained
    cells + residual-trained sub-codebooks."""
    if trained_centroids is not None:
        C = np.asarray(trained_centroids, dtype=np.int64)
        cent_ids = np.arange(len(C), dtype=np.int64)
    else:
        cent_ids, C = _collect_q6_vectors(centroids, id_col, vec_col)
    dim = C.shape[1]
    if trained_codewords is not None:
        if not residual:
            raise ValueError("trained_codewords are residual-scale; "
                             "pass residual=True")
        B = np.asarray(trained_codewords, dtype=np.int64)
        cb_ids = np.arange(len(B), dtype=np.int64)
        assert B.shape[1] == dim and dim % m == 0
    else:
        cb_ids, B = _collect_q6_vectors(codebook, id_col, vec_col)
        assert B.shape[1] == dim and dim % m == 0
        if residual:
            B = _residualize_codebook(B, C)
    sub = dim // m
    bsub = B.reshape(len(cb_ids), m, sub)
    corpus = valid_vectors(corpus, dim, vec_col)
    coded = _ivfpq_encode(
        corpus, cent_ids, C, bsub, m, sub, id_col, vec_col, residual=residual
    )
    return _ivfpq_serve(
        coded, queries, cent_ids, C, bsub, m, sub, k, n_probe, id_col, vec_col,
        residual=residual,
    )


def write_ann_index(
    corpus: DataFrame,
    centroids: DataFrame,
    codebook: DataFrame,
    path: str,
    m: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    residual: bool = False,
    trained_codewords=None,
    trained_centroids=None,
) -> str:
    """Build-once half of the IVF-PQ amortization (VERDICT r11 item 1):
    run the encode pass ONCE and persist everything a later query needs —

    - ``path/codes``      (nid, cell, codes) parquet, partitioned by
                          nothing but CLUSTERED at write time by cell via
                          repartition, so a probed cell touches few files;
    - ``path/centroids``  the coarse-quantizer vectors (tiny);
    - ``path/codebook``   the PQ sub-codebook vectors (tiny);
    - ``path/meta.json``  {m, dim, quant, id_col, vec_col} — the integer
                          contract the codes were built under.

    Mirrors operators/bucketing.py's write/register pattern: the artifact
    is plain parquet + a manifest, so any session (or engine) can
    re-attach it. At 100 TB this converts the dominant repeated cost
    (re-encoding the corpus per query batch) into a one-time write —
    the FAISS train-once/add-once/search-many shape.

    ``trained_codewords`` (r13): residual-scale int64 codewords from
    train_pq_codewords (requires residual=True; ``codebook`` may be
    None). Persisted VERBATIM as ``path/codebook_q`` (array<long> —
    already on the quantized grid, no float round trip) with
    meta.codebook_scale = 'residual-trained' so the read path knows NOT
    to re-residualize. ``trained_centroids`` (r13): trained coarse
    centroids, persisted verbatim as ``path/centroids_q`` with
    meta.centroids_scale = 'trained' (``centroids`` may then be None)."""
    import json as _json
    import os as _os

    if trained_centroids is not None:
        C = np.asarray(trained_centroids, dtype=np.int64)
        cent_ids = np.arange(len(C), dtype=np.int64)
    else:
        cent_ids, C = _collect_q6_vectors(centroids, id_col, vec_col)
    dim = C.shape[1]
    if trained_codewords is not None:
        if not residual:
            raise ValueError("trained_codewords are residual-scale; "
                             "pass residual=True")
        B = np.asarray(trained_codewords, dtype=np.int64)
        cb_ids = np.arange(len(B), dtype=np.int64)
        assert B.shape[1] == dim and dim % m == 0
    else:
        cb_ids, B = _collect_q6_vectors(codebook, id_col, vec_col)
        assert B.shape[1] == dim and dim % m == 0
        if residual:
            B = _residualize_codebook(B, C)
    sub = dim // m
    bsub = B.reshape(len(cb_ids), m, sub)
    coded = _ivfpq_encode(
        valid_vectors(corpus, dim, vec_col), cent_ids, C, bsub, m, sub,
        id_col, vec_col, residual=residual,
    )
    # cluster by cell at write time: a probe reads its cells' row groups,
    # not the whole index (min/max stats on a cell-sorted file prune at
    # the parquet level). sortWithinPartitions avoids a global sort.
    (
        coded.repartition("cell")
        .sortWithinPartitions("cell")
        .write.mode("overwrite")
        .parquet(f"{path}/codes")
    )
    arr = F.col(vec_col).cast("array<double>")
    spark = corpus.sparkSession

    def write_q(name: str, M) -> None:
        """Persist an int64 trained model matrix verbatim (no float
        round trip — rint/floor mismatches would corrupt the grid)."""
        (
            spark.createDataFrame(
                [(int(i), [int(x) for x in M[i]]) for i in range(len(M))],
                "id long, vq array<long>",
            )
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(f"{path}/{name}")
        )

    model_legs = []
    if trained_centroids is None:
        model_legs.append(("centroids", centroids))
    if trained_codewords is None:
        model_legs.append(("codebook", codebook))
    for name, df in model_legs:
        (
            df.filter(F.col(vec_col).isNotNull())
            .select(F.col(id_col).alias("id"), arr.alias("v"))
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(f"{path}/{name}")
        )
    scale = "residual-trained" if trained_codewords is not None else (
        "residual" if residual else "raw"
    )
    if trained_codewords is not None:
        write_q("codebook_q", B)
    if trained_centroids is not None:
        write_q("centroids_q", C)
    meta = {"m": m, "dim": dim, "quant": LSH_QUANT, "id_col": id_col,
            "vec_col": vec_col, "residual": residual,
            "codebook_scale": scale,
            "centroids_scale":
                "trained" if trained_centroids is not None else "data",
            "format": "ivfpq-v1"}
    # meta travels through the same fs abstraction as the parquet legs
    # (ADVICE r12): a remote path (s3a://, hdfs://) previously produced a
    # parquet-only artifact whose meta landed on the DRIVER's local disk,
    # breaking the 'any session can re-attach it' contract. fsio routes
    # scheme-less paths to atomic local IO and scheme'd ones to Hadoop FS
    # — the offset store's exact pattern.
    from flink_cdc_multi_spark.sources import fsio

    if not fsio.has_scheme(path):
        _os.makedirs(path, exist_ok=True)
    fsio.write_text_atomic(fsio.join(path, "meta.json"), _json.dumps(meta))
    return path


def read_ann_index(spark, path: str):
    """Re-attach a persisted IVF-PQ index: (meta dict, coded DataFrame —
    a lazy parquet scan of path/codes, no corpus anywhere — and the
    collected centroid/codebook models). Meta reads through fsio (ADVICE
    r12) so a remote (s3a://, hdfs://) artifact re-attaches from any
    host; the caller asserts the artifact was produced by
    write_ann_index."""
    import json as _json

    from flink_cdc_multi_spark.sources import fsio

    meta_text = fsio.read_text(fsio.join(path, "meta.json"))
    if meta_text is None:
        raise FileNotFoundError(f"no meta.json under {path}")
    meta = _json.loads(meta_text)
    if meta.get("format") != "ivfpq-v1":
        raise ValueError(f"not an ivfpq-v1 index: {path}")
    if meta.get("quant") != LSH_QUANT:
        raise ValueError(
            f"index quantization {meta.get('quant')} != engine {LSH_QUANT}"
        )
    coded = spark.read.parquet(f"{path}/codes")
    if meta.get("centroids_scale") == "trained":
        rows = sorted(spark.read.parquet(f"{path}/centroids_q").collect())
        cent_ids = np.array([r["id"] for r in rows], dtype=np.int64)
        C = np.stack([np.asarray(r["vq"], dtype=np.int64) for r in rows])
    else:
        cent = spark.read.parquet(f"{path}/centroids")
        cent_ids, C = _collect_q6_vectors(cent, "id", "v")
    if meta.get("codebook_scale") == "residual-trained":
        # trained codewords persisted verbatim on the int64 grid (r13):
        # already residual-scale, never re-residualized
        rows = sorted(spark.read.parquet(f"{path}/codebook_q").collect())
        cb_ids = np.array([r["id"] for r in rows], dtype=np.int64)
        B = np.stack([np.asarray(r["vq"], dtype=np.int64) for r in rows])
    else:
        cb = spark.read.parquet(f"{path}/codebook")
        cb_ids, B = _collect_q6_vectors(cb, "id", "v")
    return meta, coded, (cent_ids, C), (cb_ids, B)


def ivf_pq_topk_indexed(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 3,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Serve-many half: IVF-PQ top-k against a PERSISTED index — zero
    corpus-scan jobs (plan-pinned in tests/test_extensions.py); the only
    large input is the (nid, cell, codes) parquet, m·8+16 bytes/vector,
    and the probe broadcast prunes it to n_probe/n_cells before the ADC
    kernel. Result-identical to ivf_pq_topk_fixed over the same models
    by construction (same integer arithmetic end to end)."""
    meta, coded, (cent_ids, C), (cb_ids, B) = read_ann_index(spark, path)
    m = meta["m"]
    sub = meta["dim"] // m
    residual = bool(meta.get("residual", False))
    if residual and meta.get("codebook_scale") != "residual-trained":
        # the artifact stores the caller's RAW codebook vectors; the
        # residualization is deterministic, so recompute rather than
        # persist a second derived copy. Trained codewords (r13) are
        # persisted ALREADY residual-scale — re-residualizing would
        # corrupt them, so the scale flag gates this.
        B = _residualize_codebook(B, C)
    bsub = B.reshape(len(cb_ids), m, sub)
    return _ivfpq_serve(
        coded, queries, cent_ids, C, bsub, m, sub, k, n_probe, id_col, vec_col,
        residual=residual,
    )


def _kcenter_local(rows, k: int, id_col: str, vec_col: str,
                   grid_scale: int) -> list[tuple[int, int]]:
    """Driver-local k-center greedy over an already-collected small
    corpus — the r17 fast path of kcenter_greedy. EXACTLY the
    distributed kernel's arithmetic and tie-breaks: int64 grid
    (floor(float64·grid_scale)), first pick = min id at dist 0, each
    later pick maximizes the exact squared L2 distance to the nearest
    earlier pick with ties to the smaller id, rows whose id is already
    picked are excluded (the duplicate-grid-point rule). The nearest-
    center minimum is maintained incrementally (min is associative —
    identical ints to the distributed per-round full recompute)."""
    if not rows:
        return []
    ids = np.asarray([r[id_col] for r in rows], dtype=np.int64)
    G = np.floor(
        np.asarray([r[vec_col] for r in rows], dtype=np.float64) * grid_scale
    ).astype(np.int64)
    w = int(np.argmin(ids))
    picks: list[tuple[int, int]] = [(int(ids[w]), 0)]
    diff = G - G[w]
    md = np.einsum("ij,ij->i", diff, diff)
    excluded = ~np.isin(ids, np.asarray([p for p, _ in picks], dtype=np.int64))
    for _ in range(1, k):
        if not excluded.any():
            break  # corpus exhausted (fewer than k distinct candidates)
        cand = np.where(excluded, md, -1)
        top = cand.max()
        ti = np.flatnonzero(cand == top)
        w = int(ti[np.argmin(ids[ti])])  # tie → smaller id
        picks.append((int(ids[w]), int(top)))
        excluded &= ids != ids[w]
        diff = G - G[w]
        md = np.minimum(md, np.einsum("ij,ij->i", diff, diff))
    return picks


def kcenter_greedy(
    df: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    grid_scale: int = 1 << 20,
    local_max: int = 65536,
) -> list[tuple[int, int]]:
    """Exact k-center (farthest-point / maximin) greedy selection — the
    classic diversity-aware coreset picker for training-data curation
    (Sener & Savarese 2018 'Active Learning for CNNs: A Core-Set
    Approach', arXiv:1708.00489: each pick maximizes its distance to the
    nearest already-picked center, giving a 2-approximation of the
    optimal k-center cover). Returns ``[(id, min_dist_sq)]`` of length
    ≤ k in pick order; the first pick is the minimum id (deterministic
    seed, dist 0), every later pick maximizes the exact INTEGER squared
    L2 distance on the 2^20 grid, ties to the smaller id.

    Exactness contract (the ivfpq int64-grid pattern): vectors are
    gridded as floor(float64(x)·2^20) — float32→float64 is exact, the
    product shifts a 24-bit mantissa inside float64's 53, floor is
    exact — so distances are exact int64 sums (diffs ≲ 2^21, squares
    ≲ 2^42, ·dim < 2^48) and every engine replays the identical picks.

    Scale shape: greedy selection is inherently SEQUENTIAL in k, so the
    loop lives on the driver — but each round is ONE mapInPandas pass
    that reduces every partition to a single (id, min_dist) candidate
    (numpy int64 kernel against the ≤ k broadcast centers) followed by a
    driver-side max over #partitions rows; the corpus is never shuffled,
    collected, or re-gridded (grid rides the scan), and round cost is
    O(n·dim) scan-local work — k rounds = k scans, the standard
    distributed k-center layout. NULL/ragged vectors are dropped by the
    valid_vectors contract.

    r17 optimization round — small-corpus serving fast path: when the
    valid corpus has ≤ ``local_max`` rows (probed with ONE
    limit(local_max+1) job), the whole greedy loop runs driver-local on
    the collected rows with the IDENTICAL int64-grid kernel and
    tie-breaks — k rounds collapse from k full mapInPandas scans + k
    Python-worker spin-ups (8 Spark jobs at the gate) into ONE job.
    Driver memory is bounded by the gate (local_max·dim float64 ≈ 34 MB
    at the default); larger corpora take the unchanged distributed
    path. Same picks bit-exactly: the kernel is the same exact-integer
    arithmetic and the same (max d, then min id) selection, and grid
    rounding is row-local, so WHERE it runs cannot change it."""
    vecs = valid_vectors(df, dim, vec_col).select(id_col, vec_col)
    if local_max > 0:
        head = vecs.limit(local_max + 1).collect()
        if len(head) <= local_max:
            return _kcenter_local(head, k, id_col, vec_col, grid_scale)
    first = vecs.orderBy(id_col).limit(1).collect()
    if not first:
        return []

    def grid(a) -> "np.ndarray":
        return np.floor(
            np.asarray(a, dtype=np.float64) * grid_scale
        ).astype(np.int64)

    picks: list[tuple[int, int]] = [(first[0][id_col], 0)]
    centers = [grid(first[0][vec_col])]
    # the candidate row carries its own gridded vector, so promoting the
    # round winner to a center needs NO second corpus scan (r16 review:
    # the filter(id==win).collect() re-fetch doubled every round's job
    # count and scan I/O)
    out_schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("d", T.LongType()),
        T.StructField("g", T.ArrayType(T.LongType())),
    ])
    for _ in range(1, k):
        S = np.stack(centers)  # (r, dim) int64
        taken = np.array([p for p, _ in picks], dtype=np.int64)

        def cand(it, S=S, taken=taken):
            best_id, best_d, best_g = None, -1, None
            for pdf in it:
                if len(pdf) == 0:
                    continue
                ids = pdf[id_col].values.astype(np.int64)
                # already-picked ids are OUT of the candidate set (a
                # center is distance 0 from itself; a corpus that has
                # run out of distinct grid points would otherwise
                # re-pick pick #1 forever — the oracle excludes them
                # with the same NOT-IN, so both engines emit the same
                # ≤ k rows even on degenerate corpora)
                keep = ~np.isin(ids, taken)
                if not keep.any():
                    continue
                G = np.floor(
                    np.stack(pdf[vec_col].values[keep]).astype(np.float64)
                    * grid_scale
                ).astype(np.int64)
                ids = ids[keep]
                md = None
                for s in S:  # r ≤ k rows: loop keeps memory flat
                    diff = G - s
                    d = np.einsum("ij,ij->i", diff, diff)
                    md = d if md is None else np.minimum(md, d)
                top = md.max()
                ti = np.flatnonzero(md == top)
                w = ti[np.argmin(ids[ti])]  # tie → smaller id
                tid = int(ids[w])
                if top > best_d or (top == best_d and (
                        best_id is None or tid < best_id)):
                    # .copy(): G[w] is a VIEW whose .base pins the whole
                    # chunk's (rows × dim) matrix across the remaining
                    # iterator (r16 review) — keep only the 64 int64s
                    best_id, best_d, best_g = tid, int(top), G[w].copy()
            if best_id is not None:
                yield pd.DataFrame(
                    {"id": [best_id], "d": [best_d], "g": [list(best_g)]}
                )

        rows = vecs.mapInPandas(cand, out_schema).collect()
        if not rows:
            break  # corpus exhausted (fewer than k valid vectors)
        win = max(rows, key=lambda r: (r["d"], -r["id"]))
        picks.append((win["id"], win["d"]))
        centers.append(np.asarray(win["g"], dtype=np.int64))
    return picks
