"""Similarity search over embedding columns (``array<float>``).

- ``cosine_topk``: exact brute-force top-k for a (small, broadcastable)
  query set against an arbitrarily large corpus. The corpus side streams —
  each partition scores its rows against the broadcast queries and keeps
  only per-partition top-k via the window, so shuffle volume is
  O(|queries| * k), not O(corpus).
- ``lsh_bucket_topk``: the scale path — random-hyperplane (sign) LSH with
  portable deterministic hyperplanes; only same-bucket pairs are scored.
  Recall < 1 by construction; raise ``n_tables`` for higher recall.

Vector math is JVM-side (higher-order functions, functions/vectors.py); no
Python in the scoring loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from tdataframe_spark.core.partitioning import ensure_min_partitions
from tdataframe_spark.functions.vectors import dot, l2_norm


def _normalized(df: DataFrame, id_col: str, vec_col: str, out_id: str) -> DataFrame:
    """Project (id, unit-normalized double vector). Normalizing ONCE per row
    turns every pairwise cosine into a single dot-product fold — 3× less
    arithmetic per pair and a much smaller codegen unit than inlining
    dot/(|a||b|) at every pair."""
    v = F.col(vec_col)
    df = ensure_min_partitions(df)
    d = df.select(
        F.col(id_col).alias(out_id),
        F.transform(v, lambda x: x.cast("double")).alias("__v"),
    ).withColumn("__norm", l2_norm(F.col("__v")))
    return d.select(
        out_id,
        F.when(
            F.col("__norm") > 0,
            F.transform(F.col("__v"), lambda x: x / F.col("__norm")),
        ).alias("__vn"),
    )


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    exclude_self: bool = True,
) -> DataFrame:
    """Exact top-k cosine neighbors in ``corpus`` for every row of
    ``queries``. Returns (query_id, neighbor_id, cos_sim, rnk),
    deterministically tie-broken by neighbor id.

    Plan shape: queries are broadcast (small side by contract); the corpus
    streams through a BroadcastNestedLoopJoin scoring one ordered fold per
    pair; per-query top-k via window. Shuffle volume is O(|q|·|corpus|)
    scored rows → reduced by the rnk filter before any driver contact.
    """
    q = _normalized(queries, id_col, vec_col, "query_id").withColumnRenamed(
        "__vn", "__qn"
    )
    c = _normalized(corpus, id_col, vec_col, "neighbor_id").withColumnRenamed(
        "__vn", "__cn"
    )
    scored = F.broadcast(q).crossJoin(c).select(
        "query_id",
        "neighbor_id",
        dot(F.col("__qn"), F.col("__cn")).alias("cos_sim"),
    )
    if exclude_self:
        scored = scored.filter(F.col("query_id") != F.col("neighbor_id"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
    )


def cosine_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    n_blocks: int = 8,
) -> DataFrame:
    """All vector pairs with cosine similarity above ``threshold``
    (embedding near-duplicate detection). EXACT all-pairs scoring, but
    distributed as a block-grid theta→equi join (Okcan & Riedewald): each
    vector is hashed to one of ``n_blocks`` blocks, replicated to its
    ~B/2 grid cells, and cells join on an equi key — a plain shuffled
    hash/sort-merge join, NO cartesian/broadcast-nested-loop in the plan,
    with per-task work bounded by (n/B)² regardless of corpus size. Raise
    ``n_blocks`` ~ sqrt(cluster cores) at scale.

    O(n²) dot products are inherent to exact threshold-pairs on dense
    vectors; when approximate recall is acceptable use ``lsh_cosine_pairs``
    (bucketed candidates, exact verify, linear-ish work).

    Returns (id_a, id_b, cos_sim) with id_a < id_b.
    """
    u = _normalized(df, id_col, vec_col, "__id")
    B = n_blocks
    blk = F.pmod(F.xxhash64(F.col("__id")), F.lit(B)).cast("int")
    u = u.withColumn("__blk", blk)
    # A vector in block p appears on the LEFT of every cell (p, q>=p) and on
    # the RIGHT of every cell (q<=p, p); joining on the cell key yields each
    # unordered block pair in exactly one cell. ~B/2 replicas per side.
    left = u.select(
        F.col("__id").alias("__ida"),
        F.col("__vn").alias("__va"),
        F.col("__blk").alias("__ba"),
        F.explode(
            F.sequence(F.col("__blk"), F.lit(B - 1))
        ).alias("__cell_hi"),
    ).withColumn("__cell", F.concat_ws("_", "__ba", "__cell_hi"))
    right = u.select(
        F.col("__id").alias("__idb"),
        F.col("__vn").alias("__vb"),
        F.col("__blk").alias("__bb"),
        F.explode(
            F.sequence(F.lit(0), F.col("__blk"))
        ).alias("__cell_lo"),
    ).withColumn("__cell", F.concat_ws("_", "__cell_lo", "__bb"))
    pairs = (
        left.join(right, "__cell")
        # off-diagonal cells see each unordered pair once; diagonal cells
        # (p,p) see both orderings — keep one by id order
        .filter(
            (F.col("__ba") < F.col("__bb"))
            | ((F.col("__ba") == F.col("__bb")) & (F.col("__ida") < F.col("__idb")))
        )
        .select(
            F.least("__ida", "__idb").alias("id_a"),
            F.greatest("__ida", "__idb").alias("id_b"),
            dot(F.col("__va"), F.col("__vb")).alias("cos_sim"),
        )
    )
    return pairs.filter(F.col("cos_sim") > threshold)


def _centroid_df(spark, cents) -> DataFrame:
    return spark.createDataFrame(
        [(ci, vec) for ci, vec in cents], "__cell int, __cvec array<double>"
    )


def _centroid_struct_df(spark, cents) -> DataFrame:
    """ONE row holding the whole candidate set as an ascending-cell struct
    array — the broadcast side of the per-row argmax assignment. Data
    rides the broadcast (not the plan), so codegen stays stable across
    Lloyd iterations."""
    cands = [
        (int(ci), [float(x) for x in vec]) for ci, vec in sorted(cents)
    ]
    return spark.createDataFrame(
        [(cands,)], "__cands array<struct<__cell:int,__cvec:array<double>>>"
    )


def _argmax_cell(scored_arr):
    """Fold an ascending-cell array of (__cell, __sc) structs to the
    max-score struct, ties to the LOWEST cell (strict > over an ascending
    scan == the old ``max_by(cell, struct(score, -cell))`` ordering,
    score-for-score bit-identical because the fold compares the same
    double values the aggregate compared)."""
    init = F.struct(
        F.lit(-1).cast("int").alias("__cell"),
        F.lit(float("-inf")).alias("__sc"),
    )
    return F.aggregate(
        scored_arr,
        init,
        lambda acc, s: F.when(s["__sc"] > acc["__sc"], s).otherwise(acc),
    )


def _scored_cells(vec_field: str):
    """(__cell, __sc) struct array: each broadcast candidate scored by
    dot against the row's ``vec_field`` — input to the argmax/top-n
    folds. Requires a ``__cands`` column (crossJoin of a 1-row
    candidates frame)."""
    return F.transform(
        F.col("__cands"),
        lambda c: F.struct(
            c["__cell"].alias("__cell"),
            dot(F.col(vec_field), c["__cvec"]).alias("__sc"),
        ),
    )


# ---------------------------------------------------------------------------
# Arrow-batched assignment scoring. The per-row argmax fold above is a
# higher-order function — CodegenFallback, i.e. INTERPRETED expression
# evaluation — and profiling put ~45% of every Lloyd iteration in those
# interpreted dot products (r11 verdict item 1). The scorer below moves
# the same arithmetic into numpy over Arrow batches (guide §4.2: hand
# whole batches to vectorized native code) with a bit-identity argument,
# not a tolerance: every float op is the same correctly-rounded IEEE-754
# double the JVM fold produced, in the same order.


def _np_candidates(cents):
    """Ascending-cell candidate arrays for the Arrow scorer: int32 cell
    ids + (C, d) float64 matrix — the same doubles, in the same order,
    the broadcast struct array carried."""
    import numpy as np

    cands = sorted((int(c), [float(x) for x in v]) for c, v in cents)
    cells = np.asarray([c for c, _ in cands], dtype=np.int32)
    mat = np.asarray([v for _, v in cands], dtype=np.float64)
    if mat.ndim == 1:  # zero candidates
        mat = mat.reshape(0, 0)
    return cells, mat


def _np_fold_argmax(vecs, cells, mat, shift=None):
    """Per-row winning cell over the candidates in ``mat``, bit-identical
    to the JVM fold ``_argmax_cell(_scored_cells(...))``:

    - scores accumulate dimension-by-dimension from a 0.0 init, exactly
      the ordered left fold ``dot`` performs — numpy's elementwise
      multiply and add are the same correctly-rounded IEEE-754 ops (no
      FMA, no pairwise reassociation: each dimension is its own
      vectorized multiply-then-add);
    - the winner is the FIRST occurrence of the maximum (np.argmax), and
      candidates are cell-ascending — the fold's strict-``>`` scan that
      breaks ties to the lowest cell;
    - NaN ranks greatest (Spark comparison semantics: ``NaN > x`` for
      every non-NaN x; np.argmax likewise returns the first NaN);
    - a row every candidate of which loses to the fold's (-1, -inf)
      init — all scores exactly -inf — yields -1.

    ``shift`` (per-candidate double, PQ's precomputed ||c||²/2) is
    subtracted once after the fold, exactly like ``dot(...) - __half``.
    """
    import numpy as np

    n = vecs.shape[0]
    if n == 0 or mat.shape[0] == 0:
        return np.full(n, -1, dtype=np.int32)
    scores = np.zeros((n, mat.shape[0]))
    for j in range(vecs.shape[1]):
        scores += vecs[:, j, None] * mat[None, :, j]
    if shift is not None:
        scores -= shift[None, :]
    idx = np.argmax(scores, axis=1)
    win = scores[np.arange(n), idx]
    keep = np.isnan(win) | (win > float("-inf"))
    return np.where(keep, cells[idx], np.int32(-1)).astype(np.int32)


def _batch_cells(vcol, cells, mat, shift=None):
    """int32 ``__cell`` Arrow array for one ``list<double>`` column: rows
    that are NULL, of a length other than the candidate dim, or carrying
    a NULL element all score NULL against every candidate in the JVM
    fold and therefore keep its (-1, -inf) init — here they come back
    -1 through the same three gates."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    n = len(vcol)
    d = mat.shape[1]
    out = np.full(n, -1, dtype=np.int32)
    lens = pc.list_value_length(vcol)  # NULL rows stay null
    ok = pc.fill_null(pc.equal(lens, d), False).to_numpy(
        zero_copy_only=False
    )
    idxs = np.flatnonzero(ok)
    if idxs.size:
        taken = vcol.take(pa.array(idxs))
        flat = taken.flatten()
        vals = flat.to_numpy(zero_copy_only=False)
        k = idxs.size
        matx = vals.reshape(k, d) if d else np.zeros((k, 0))
        if flat.null_count:
            isnull = pc.is_null(flat).to_numpy(zero_copy_only=False)
            good = ~isnull.reshape(k, d).any(axis=1)
        else:
            good = np.ones(k, dtype=bool)
        sub = np.full(k, -1, dtype=np.int32)
        sub[good] = _np_fold_argmax(matx[good], cells, mat, shift)
        out[idxs] = sub
    return pa.array(out, type=pa.int32())


def _assign_arrow(
    vectors: DataFrame,
    vec_field: str,
    id_field: str,
    cents,
    carry_vec: bool = False,
) -> DataFrame:
    """Nearest-centroid assignment as ONE narrow Arrow map stage: the
    driver-known candidate set rides the task closure (it was already a
    driver list — every caller collects centroids per Lloyd iteration),
    each batch is scored by the numpy fold above. No shuffle, no
    aggregate, no broadcast build job; assignments bit-identical to the
    HOF fold (see ``_np_fold_argmax``). Returns (id, cell[, vec])."""
    import pyarrow as pa
    from pyspark.sql.types import IntegerType, StructField, StructType

    cells, mat = _np_candidates(cents)
    src = vectors.select(id_field, vec_field)
    in_schema = src.schema
    fields = [in_schema[0], StructField("__cell", IntegerType(), True)]
    if carry_vec:
        fields.append(in_schema[1])
    names = [f.name for f in fields]

    def score(batches):
        for b in batches:
            cell = _batch_cells(b.column(1), cells, mat)
            cols = [b.column(0), cell] + (
                [b.column(1)] if carry_vec else []
            )
            yield pa.RecordBatch.from_arrays(cols, names)

    return src.mapInArrow(score, StructType(fields))


def _topn_cells(scored_arr, n: int):
    """Top-``n`` of a (__cell, __sc) struct array by (score desc, cell
    asc) — the SAME comparator as the window ``orderBy(__sim.desc(),
    __cell.asc())`` it replaces (same doubles, same tie-break), but
    per-row JVM array ops: no ×n_cells row fan-out, no exchange, no
    sort of fanned rows."""
    return F.slice(
        F.array_sort(
            scored_arr,
            lambda a, b: F.when(a["__sc"] > b["__sc"], F.lit(-1))
            .when(a["__sc"] < b["__sc"], F.lit(1))
            .otherwise(a["__cell"] - b["__cell"]),
        ),
        1,
        n,
    )


def _probe_cells(
    vectors: DataFrame,
    vec_field: str,
    id_field: str,
    cents,
    n_probe: int,
    extra: tuple = (),
) -> DataFrame:
    """Per row: its ``n_probe`` highest-dot cells — (id, *extra, __cell,
    __sim) exploded from the per-row top-n fold. Replaces the
    crossJoin-fanout + row_number window probe selection (which exchanged
    and sorted n_rows × n_cells fanned rows) with one narrow stage;
    selection is bit-identical (same dot doubles, same
    desc-score/asc-cell order). ``extra`` columns (e.g. the query vector)
    ride along so no join-back is needed."""
    spark = vectors.sparkSession
    return (
        vectors.crossJoin(F.broadcast(_centroid_struct_df(spark, cents)))
        .select(
            id_field,
            *extra,
            F.explode(_topn_cells(_scored_cells(vec_field), n_probe)).alias(
                "__t"
            ),
        )
        .select(
            id_field,
            *extra,
            F.col("__t.__cell").alias("__cell"),
            F.col("__t.__sc").alias("__sim"),
        )
    )


def _assign(vectors: DataFrame, vec_field: str, id_field: str, cents) -> DataFrame:
    """Nearest-centroid assignment — NO shuffle, NO aggregate, NO
    broadcast: one Arrow map stage scoring each batch against the
    driver-known candidates in numpy (see ``_assign_arrow``; r11 used a
    per-row HOF fold over a broadcast candidate array, but HOFs are
    CodegenFallback and the interpreted dot products were ~45% of every
    Lloyd iteration). Assignments stay bit-identical to the fold — same
    IEEE doubles, same (score, lowest-cell-on-tie) order — so every
    consumer's output is unchanged. Returns (id, cell)."""
    return _assign_arrow(vectors, vec_field, id_field, cents)


def _assign_with_vec(
    vectors: DataFrame, vec_field: str, id_field: str, cents
) -> DataFrame:
    """:func:`_assign` with the row's vector carried through — same
    shuffle-free Arrow-batched argmax, vector passed through the map.
    Yields (id, cell, vec) in one narrow stage."""
    return _assign_arrow(vectors, vec_field, id_field, cents, carry_vec=True)


def _train_ivf(u: DataFrame, n_cells: int, lloyd_iterations: int) -> list:
    """Distributed deterministic IVF training over a normalized corpus
    ``u`` (__cid, __vn). Seeding hash-buckets ids into n_cells groups and
    takes each bucket's min-id row, so exactly n_cells rows (not the
    corpus) reach the driver; Lloyd updates collect only the n_cells×dim
    component sums per iteration. Returns [(cell, centroid_vec)]."""
    seed_rows = (
        u.filter(F.col("__vn").isNotNull())  # zero-norm vectors can't seed
        .groupBy(F.pmod(F.xxhash64("__cid"), F.lit(n_cells)).alias("__b"))
        .agg(F.min_by(F.struct("__cid", "__vn"), F.col("__cid")).alias("__s"))
        .select(F.col("__s.__vn").alias("__vn"), "__b")
        .orderBy("__b")
        .collect()
    )
    centroids = [(ci, list(r["__vn"])) for ci, r in enumerate(seed_rows)]

    for _ in range(lloyd_iterations):
        assigned = _assign_with_vec(u, "__vn", "__cid", centroids)
        sums = (
            assigned
            .select("__cell", F.posexplode(F.col("__vn")).alias("__d", "__x"))
            .groupBy("__cell", "__d")
            # decimal accumulation: partial sums merge in shuffle-fetch
            # order, and double addition does not commute bitwise — the
            # decimal sum makes centroids (hence assignments, hence every
            # consumer's output) partitioning-invariant, the repo-wide
            # dsum convention. Components are unit-normalized (|x| <= 1),
            # so (38,18) holds exact sums past 1e19 rows per cell.
            .agg(
                F.sum(F.col("__x").cast("decimal(38,18)")).alias("__s"),
                F.count(F.lit(1)).alias("__n"),
            )
        )
        comp = {
            (r["__cell"], r["__d"]): (float(r["__s"]), r["__n"])
            for r in sums.collect()
        }
        new_centroids = []
        for ci in sorted({c for c, _ in comp}):
            dims = sorted(d for c, d in comp if c == ci)
            mean = [comp[(ci, d)][0] / comp[(ci, d)][1] for d in dims]
            norm = sum(x * x for x in mean) ** 0.5 or 1.0
            new_centroids.append((ci, [x / norm for x in mean]))
        if new_centroids:
            centroids = new_centroids
    return centroids


def _probe_and_score(
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    centroids,
    corpus_cells: DataFrame,
    k: int,
    n_probe: int,
) -> DataFrame:
    """Per query: its n_probe closest cells via a per-row top-n fold over
    the broadcast candidate array (see :func:`_probe_cells` — no fan-out,
    no window exchange/sort), then exact cosine against only those cells'
    vectors."""
    qn = _normalized(queries, id_col, vec_col, "query_id").withColumnRenamed(
        "__vn", "__qn"
    )
    q_probed = _probe_cells(
        qn, "__qn", "query_id", centroids, n_probe, extra=("__qn",)
    ).select("query_id", "__qn", "__cell")
    scored = (
        q_probed.join(corpus_cells.select("__cid", "__vn", "__cell"), "__cell")
        .filter(F.col("query_id") != F.col("__cid"))
        .select(
            "query_id",
            F.col("__cid").alias("neighbor_id"),
            dot(F.col("__qn"), F.col("__vn")).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= k)


def _sign_bucket(vec, planes):
    """Pack sign(vec·plane_b) bits into one bucket int. The vector length
    must equal the plane dimension — enforced with a raising assert (a
    mismatch makes every zip_with product NULL, every sum NULL, every bit
    0, and the WHOLE corpus lands in bucket 0: results stay correct via
    exact verification, but the job silently degenerates to all-pairs)."""
    dim = len(planes[0])
    # NULL (zero-norm) vectors pass: their bucket is NULL and they drop
    # out of the bucket join, same as before the check existed
    chk = F.coalesce(
        F.assert_true(
            vec.isNull() | (F.size(vec) == dim),
            F.concat(
                F.lit(f"LSH planes are dim={dim} but vector has "),
                F.size(vec).cast("string"),
                F.lit(" components — pass dim=<vector length>"),
            ),
        ).cast("int"),
        F.lit(0),
    )
    bits = []
    for b, plane in enumerate(planes):
        prods = F.zip_with(
            vec,
            F.array(*[F.lit(x) for x in plane]),
            lambda x, y: x.cast("double") * y,
        )
        s_ = F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)
        bits.append(F.when(s_ >= 0, F.lit(1 << b)).otherwise(F.lit(0)))
    out = bits[0] + chk
    for t in bits[1:]:
        out = out + t
    return out


def lsh_cosine_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    n_bits: int = 8,
    dim: int = 64,
    n_tables: int = 4,
    seed: int = 7,
) -> DataFrame:
    """Embedding near-duplicate pairs at scale: the LSH-bucketed variant of
    ``cosine_pairs``. Vectors are sign-hashed into buckets by ``n_tables``
    independent hyperplane sets; only same-bucket pairs (in any table) are
    scored exactly, then threshold-filtered — candidate generation is
    linear-ish in corpus size instead of the all-pairs O(n²) crossJoin.

    No false positives (exact verification); false negatives at the usual
    LSH rate — two vectors above threshold missed only if they disagree on
    ≥1 bit in EVERY table (P ≈ (1-(θ'/π)^n_bits-ish); raise n_tables for
    recall). Returns (id_a, id_b, cos_sim) with id_a < id_b.
    """
    import random

    rng = random.Random(seed)
    u = _normalized(df, id_col, vec_col, "__id")

    # one struct-array explode for ALL tables — a single pass over the
    # vectors, not n_tables scans
    tables = []
    for ti in range(n_tables):
        planes = [
            [rng.choice((-1.0, 1.0)) for _ in range(dim)] for _ in range(n_bits)
        ]
        tables.append(
            F.struct(
                F.lit(ti).alias("__t"),
                _sign_bucket(F.col("__vn"), planes).alias("__b"),
            )
        )
    bucketed = u.select(
        "__id", "__vn", F.explode(F.array(*tables)).alias("__tb")
    ).select("__id", "__vn", F.col("__tb.__t").alias("__t"), F.col("__tb.__b").alias("__b"))

    a = bucketed.select(
        F.col("__id").alias("id_a"), F.col("__vn").alias("__va"), "__t", "__b"
    )
    b = bucketed.select(
        F.col("__id").alias("id_b"), F.col("__vn").alias("__vb"), "__t", "__b"
    )
    cand = (
        a.join(b, ["__t", "__b"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "__va", "__vb")
        .dropDuplicates(["id_a", "id_b"])  # same pair may collide in 2+ tables
    )
    return cand.select(
        "id_a", "id_b", dot(F.col("__va"), F.col("__vb")).alias("cos_sim")
    ).filter(F.col("cos_sim") > threshold)


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    lloyd_iterations: int = 3,
    where=None,
) -> DataFrame:
    """IVF (inverted-file) approximate nearest neighbours: k-means-partition
    the corpus into ``n_cells`` cells, then search each query only in its
    ``n_probe`` closest cells.

    Training is distributed Lloyd iterations (assign = broadcast-centroid
    argmax, update = groupBy-cell mean) — see ``_train_ivf`` for the
    no-driver-state seeding. The normalized corpus is persisted for the
    duration of training, so Lloyd iterations + final assignment read it
    from cache instead of re-scanning/re-normalizing the source. Recall <
    1 by construction; raise ``n_probe`` toward n_cells for exactness.
    For repeated query batches over the same corpus, build the index once
    with ``ivf_build`` and search with ``ivf_query``.

    ``where`` (optional Column/SQL-string predicate over the CORPUS
    columns) is pushed into candidate generation: the index is trained on
    the full corpus (one index serves every filter), but scoring and the
    top-k run over qualifying vectors only — filtered ANN, not a
    post-filter of an unfiltered top-k (which returns < k and loses
    recall under selective filters). With a selective filter, raise
    ``n_probe``: the qualifying top-k may live in more cells.

    Returns (query_id, neighbor_id, cos_sim, rnk). The persisted corpus
    cache lives until the session evicts it (LRU) — call
    ``spark.catalog.clearCache()`` between unrelated index builds if memory
    is tight.
    """
    u = _normalized(corpus, id_col, vec_col, "__cid").persist()
    centroids = _train_ivf(u, n_cells, lloyd_iterations)
    # persisted: the driver typically runs count + collect on the result,
    # and re-running assignment would rescan the corpus each time
    corpus_cells = _assign_with_vec(u, "__vn", "__cid", centroids).persist()
    if where is not None:
        pred = F.expr(where) if isinstance(where, str) else where
        keep = corpus.filter(pred).select(F.col(id_col).alias("__cid"))
        corpus_cells = corpus_cells.join(keep, "__cid", "left_semi")
    return _probe_and_score(
        queries, id_col, vec_col, centroids, corpus_cells, k, n_probe
    )


def ivf_build(
    corpus: DataFrame,
    index_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    lloyd_iterations: int = 3,
    meta_cols: list[str] | None = None,
) -> None:
    """Materialize an IVF index on disk so repeated query batches skip
    training entirely: ``index_path/cells`` holds (id, normalized vector,
    cell) parquet PARTITIONED BY cell — a probe that needs n_probe cells
    reads only those directories — and ``index_path/centroids`` the
    n_cells centroid vectors.

    ``meta_cols`` bakes filterable metadata (language, source, label …)
    into the cells table so ``ivf_query(where=...)`` predicates reach the
    parquet scan as pushed filters — candidates are generated
    pre-filtered with zero extra joins (the vector-store filtered-ANN
    shape)."""
    spark = corpus.sparkSession
    u = _normalized(corpus, id_col, vec_col, "__cid").persist()
    centroids = _train_ivf(u, n_cells, lloyd_iterations)
    cells = _assign_with_vec(u, "__vn", "__cid", centroids)
    if meta_cols:
        cells = cells.join(
            corpus.select(F.col(id_col).alias("__cid"), *meta_cols), "__cid"
        )
    (
        cells.write.mode("overwrite")
        .partitionBy("__cell")
        .parquet(f"{index_path}/cells")
    )
    _centroid_df(spark, centroids).write.mode("overwrite").parquet(
        f"{index_path}/centroids"
    )
    u.unpersist()



def _dim_guard(u: DataFrame, dim: int, what: str) -> DataFrame:
    """In-plan dimension check against a persisted index's vector dim
    (the params-ride-the-data rule): a wrong-dim vector still has a norm,
    so it reaches the raising assert instead of silently zip_with-padding
    dots to garbage. NULL (zero-norm) rows pass through untouched."""
    return u.withColumn(
        "__vn",
        F.when(F.col("__vn").isNull(), F.col("__vn")).otherwise(
            F.when(F.size("__vn") == dim, F.col("__vn")).otherwise(
                F.assert_true(
                    F.size("__vn") == dim,
                    F.lit(f"{what}: vector dim != index dim {dim}"),
                ).cast("array<double>")
            )
        ),
    )


def _load_centroids(spark, index_path: str) -> list:
    return [
        (r["__cell"], list(r["__cvec"]))
        for r in spark.read.parquet(f"{index_path}/centroids")
        .orderBy("__cell")
        .collect()
    ]


def _load_codebook(spark, index_path: str) -> dict:
    return {
        (r["__sub"], r["__cell"]): list(r["__cvec"])
        for r in spark.read.parquet(f"{index_path}/codebook").collect()
    }


def ivf_query(
    spark,
    index_path: str,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_probe: int = 4,
    where: str | None = None,
) -> DataFrame:
    """Search a prebuilt ``ivf_build`` index: loads the (tiny) centroid
    table driver-side, probes, and scores against only the probed cells'
    partitions. Identical results to ``ivf_topk`` with the same build
    parameters — minus the training cost per batch.

    ``where`` (SQL predicate over the ``meta_cols`` baked in at build
    time) filters candidates AT THE SCAN — it lands in the parquet
    PushedFilters alongside the cell pruning, so the top-k is computed
    over qualifying vectors only instead of post-filtering an unfiltered
    top-k. Selective filters want a higher ``n_probe``."""
    centroids = _load_centroids(spark, index_path)
    corpus_cells = spark.read.parquet(f"{index_path}/cells")
    if where is not None:
        corpus_cells = corpus_cells.filter(F.expr(where))
    return _probe_and_score(
        queries, id_col, vec_col, centroids, corpus_cells, k, n_probe
    )




def ivf_append(
    new_corpus: DataFrame,
    index_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incremental ingestion into an :func:`ivf_build` index WITHOUT
    retraining: route each new vector to its nearest EXISTING centroid
    (the same deterministic argmax the build used) and append the rows to
    the cell-partitioned cells table — the ``semdedup_assign`` pattern
    applied to the vector store. A 100 TB deployment clusters once and
    streams batches through this; probes see appended vectors immediately
    (same partition layout, same scan).

    Everything rides the index, nothing is re-passed: the centroids (and
    their dim, enforced in-plan per row) come from ``{path}/centroids``,
    and ``meta_cols`` baked in at build time are re-derived from the
    cells schema — a batch missing one of them fails loudly in the
    select. Centroids DRIFT as the corpus grows away from the training
    sample; periodic ``ivf_build`` re-trains (the same periodic-rebuild
    contract as ``assign_clusters``/``semdedup_assign``)."""
    spark = new_corpus.sparkSession
    centroids = _load_centroids(spark, index_path)
    dim = len(centroids[0][1])
    existing_cols = spark.read.parquet(f"{index_path}/cells").columns
    meta_cols = [
        c for c in existing_cols if c not in ("__cid", "__cell", "__vn")
    ]
    u = _dim_guard(
        _normalized(new_corpus, id_col, vec_col, "__cid"), dim, "ivf_append"
    )
    cells = _assign_with_vec(u, "__vn", "__cid", centroids)
    if meta_cols:
        cells = cells.join(
            new_corpus.select(F.col(id_col).alias("__cid"), *meta_cols),
            "__cid",
        )
    (
        cells.select(*existing_cols)
        .write.mode("append")
        .partitionBy("__cell")
        .parquet(f"{index_path}/cells")
    )


def ivf_stats(spark, index_path: str) -> DataFrame:
    """Occupancy report for a persisted IVF or IVF-PQ index — the
    rebuild-on-drift signal for the append-forever lifecycle: per coarse
    cell, the row count and corpus fraction. Healthy trained indexes sit
    near 1/n_cells per cell; appended batches concentrating into few
    cells mean the frozen centroids no longer describe the corpus and a
    periodic ``ivf_build``/``ivfpq_build`` retrain is due. Reads ONLY
    parquet footers' worth of work (a count per cell partition) — never
    the vectors."""
    import os

    table = "cells" if os.path.isdir(f"{index_path}/cells") else "codes"
    cell_col = "__cell" if table == "cells" else "__coarse"
    rows = spark.read.parquet(f"{index_path}/{table}")
    counts = rows.groupBy(F.col(cell_col).alias("cell")).agg(
        F.count(F.lit(1)).alias("n")
    )
    total = counts.agg(F.sum("n").alias("__t"))
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "cell",
            "n",
            F.round(F.col("n") / F.col("__t"), 9).alias("frac"),
        )
        .orderBy("cell")
    )


def lsh_bucket_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_bits: int = 8,
    dim: int = 64,
    seed: int = 7,
) -> DataFrame:
    """Approximate top-k: random-hyperplane LSH bucketing, then exact cosine
    within each bucket. Hyperplane h_b component j = deterministic pseudo-
    random sign derived from (seed, b, j) — reproducible across engines/runs.
    """
    import random

    rng = random.Random(seed)
    planes = [
        [rng.choice((-1.0, 1.0)) for _ in range(dim)] for _ in range(n_bits)
    ]

    q = _normalized(queries, id_col, vec_col, "query_id").select(
        "query_id",
        F.col("__vn").alias("__qn"),
        _sign_bucket(F.col("__vn"), planes).alias("__bucket"),
    )
    c = _normalized(corpus, id_col, vec_col, "neighbor_id").select(
        "neighbor_id",
        F.col("__vn").alias("__cn"),
        _sign_bucket(F.col("__vn"), planes).alias("__bucket"),
    )
    scored = (
        q.join(c, "__bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            dot(F.col("__qn"), F.col("__cn")).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= k)


# ---------------------------------------------------------------------------
# Product quantization (PQ) — compressed-domain ANN


def _subvec_table(u: DataFrame, id_field: str, m: int) -> DataFrame:
    """(id, __sub, __sv): each normalized vector split into ``m`` contiguous
    subvectors. Dim MUST be divisible by m — enforced per row with a
    raising assert folded into the slice start (silent truncation here
    would quietly drop trailing dimensions from training, encoding, AND
    scoring). One shuffle-free projection; rows fan out ×m but each
    carries only dim/m floats, so total bytes stay ~constant."""
    sub_len = (F.size("__vn") / m).cast("int")
    # assert_true returns NULL on success; coalesced to 0 it rides the
    # slice-start arithmetic so column pruning can never elide the check
    chk = F.coalesce(
        F.assert_true(
            F.pmod(F.size("__vn"), F.lit(m)) == 0,
            F.concat(
                F.lit(f"PQ requires dim divisible by m={m}; got dim="),
                F.size("__vn").cast("string"),
            ),
        ).cast("int"),
        F.lit(0),
    )
    return u.select(
        id_field,
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(m - 1)),
                lambda j: F.struct(
                    j.cast("int").alias("__sub"),
                    F.slice(
                        F.col("__vn"), j * sub_len + 1 + chk, sub_len
                    ).alias("__sv"),
                ),
            )
        ).alias("__e"),
    ).select(id_field, "__e.__sub", "__e.__sv")


def _pq_codebook_df(spark, codebook) -> DataFrame:
    return spark.createDataFrame(
        [(s, c, vec) for (s, c), vec in sorted(codebook.items())],
        "__sub int, __cell int, __cvec array<double>",
    )


def _half_self_dot(vec) -> float:
    """||c||²/2 as the SAME ordered IEEE-double fold the JVM expression
    ``dot(c, c) / 2`` performs (acc starts at 0.0, adds x·x left to
    right, halves once) — bit-identical, so precomputing it driver-side
    per codeword (k values) instead of re-evaluating the fold per
    (row × codeword) cannot change any assignment."""
    acc = 0.0
    for x in vec:
        acc = acc + x * x
    return acc / 2


def _pq_assign(
    sv: DataFrame, id_field: str, codebook: dict, carry_vec: bool = False
) -> DataFrame:
    """Per (id, subspace): nearest codeword by L2 — argmax of
    (s·c − ||c||²/2), the expansion of −||s−c||²/2 with the ||s||² term
    dropped (constant per row). One narrow Arrow map stage: the per-
    subspace codebooks (driver dict already) ride the task closure and
    each batch is scored by the numpy fold (bit-identical to the HOF
    fold it replaces — same doubles, same order, see
    ``_np_fold_argmax``; the precomputed ||c||²/2 is subtracted once
    after the fold exactly like ``dot(...) - __half``). Rows whose
    ``__sub`` has no codebook entry drop, as the broadcast inner join
    dropped them. ``carry_vec`` keeps ``__sv`` on the output so the
    Lloyd update needs no join back to the corpus."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql.types import IntegerType, StructField, StructType

    by_sub: dict = {}
    for (s, c), vec in sorted(codebook.items()):
        by_sub.setdefault(int(s), []).append((int(c), vec))
    subs = {}
    for s, cands in by_sub.items():
        cells, mat = _np_candidates(cands)
        # row i of the shift is row i of the matrix: one sort orders both
        half = np.asarray(
            [_half_self_dot(v) for v in mat.tolist()], dtype=np.float64
        )
        subs[s] = (cells, mat, half)

    src = sv.select(id_field, "__sub", "__sv")
    in_schema = src.schema
    fields = [
        in_schema[0],
        in_schema[1],
        StructField("__cell", IntegerType(), True),
    ]
    if carry_vec:
        fields.append(in_schema[2])
    names = [f.name for f in fields]

    def score(batches):
        for b in batches:
            subcol = b.column(1)
            subnp = (
                pc.fill_null(subcol, -1)
                .to_numpy(zero_copy_only=False)
                .astype(np.int64)
            )
            vcol = b.column(2)
            out = np.full(len(subnp), -1, dtype=np.int32)
            keep = np.zeros(len(subnp), dtype=bool)
            for s in np.unique(subnp):
                trip = subs.get(int(s))
                if trip is None:
                    continue
                rows = np.flatnonzero(subnp == s)
                cells_s, mat_s, half_s = trip
                got = _batch_cells(
                    vcol.take(pa.array(rows)), cells_s, mat_s, half_s
                )
                out[rows] = got.to_numpy(zero_copy_only=False)
                keep[rows] = True
            kidx = pa.array(np.flatnonzero(keep))
            cols = [
                b.column(0).take(kidx),
                subcol.take(kidx),
                pa.array(out[keep], type=pa.int32()),
            ]
            if carry_vec:
                cols.append(vcol.take(kidx))
            yield pa.RecordBatch.from_arrays(cols, names)

    return src.mapInArrow(score, StructType(fields))


def _pq_fit(sv: DataFrame, k: int, lloyd_iterations: int) -> dict:
    """Per-subspace Lloyd k-means over a (persisted) subvector table
    (__cid, __sub, __sv). All subspaces train in ONE set of jobs per
    iteration; driver state per iteration is the k×dim codebook sums."""
    spark = sv.sparkSession
    seed_rows = (
        sv.groupBy(
            "__sub",
            F.pmod(F.xxhash64("__cid"), F.lit(k)).alias("__b"),
        )
        .agg(F.min_by("__sv", F.col("__cid")).alias("__s"))
        .collect()
    )
    codebook = {}
    cells = {}
    for r in sorted(seed_rows, key=lambda r: (r["__sub"], r["__b"])):
        c = cells.get(r["__sub"], 0)
        codebook[(r["__sub"], c)] = list(r["__s"])
        cells[r["__sub"]] = c + 1
    for _ in range(lloyd_iterations):
        # carry_vec folds what used to be a join back to the corpus into
        # the assignment projection: one narrow stage + one hash agg per
        # iteration (was: fan-out join → SortAggregate pair → join → agg)
        assigned = _pq_assign(sv, "__cid", codebook, carry_vec=True)
        sums = (
            assigned.select(
                "__sub",
                "__cell",
                F.posexplode("__sv").alias("__d", "__x"),
            )
            .groupBy("__sub", "__cell", "__d")
            # decimal accumulation for partitioning-invariant codebooks
            # (same rationale as _train_ivf; subvectors ride normalized
            # parents so |x| <= 1)
            .agg(
                F.sum(F.col("__x").cast("decimal(38,18)")).alias("__s"),
                F.count(F.lit(1)).alias("__n"),
            )
            .collect()
        )
        comp = {}
        for r in sums:
            comp.setdefault((r["__sub"], r["__cell"]), {})[r["__d"]] = (
                float(r["__s"]) / r["__n"]
            )
        new_codebook = dict(codebook)
        for key, dims in comp.items():
            new_codebook[key] = [dims[d] for d in sorted(dims)]
        codebook = new_codebook
    return codebook


def pq_train(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 16,
    k: int = 16,
    lloyd_iterations: int = 3,
) -> dict:
    """Train a product-quantization codebook: split each (normalized)
    vector into ``m`` subvectors and k-means each subspace independently
    (``k`` codewords). Returns {(sub, cell): centroid list}.

    All ``m`` subspaces train in ONE set of jobs per Lloyd iteration (the
    subspace id rides the rows), not m sequential trainings. Driver state
    is the codebook itself: m×k×(dim/m) = k×dim doubles — independent of
    corpus size. Deterministic: hash-bucket seeding by id, fixed iteration
    count, ties to the lowest cell id.
    """
    u = _normalized(corpus, id_col, vec_col, "__cid").filter(
        F.col("__vn").isNotNull()
    )
    sv = _subvec_table(u, "__cid", m).persist()
    try:
        return _pq_fit(sv, k, lloyd_iterations)
    finally:
        sv.unpersist()


def _pq_code_rows(sv: DataFrame, codebook: dict) -> DataFrame:
    """(__cid, __sub, __cell): the exploded compressed representation —
    what the ADC scan consumes directly."""
    return _pq_assign(sv, "__cid", codebook)


def pq_encode(
    corpus: DataFrame,
    codebook: dict,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes array<int>): each vector compressed to its per-subspace
    nearest-codeword indices — with m=16, k=16 that is 16 small ints
    standing in for 64 floats (a ~16× memory cut before bit-packing). The
    encoded table is what a 100 TB deployment persists and scans at query
    time; raw vectors are only revisited for reranking."""
    m = max(s for s, _ in codebook) + 1
    u = _normalized(corpus, id_col, vec_col, "__cid").filter(
        F.col("__vn").isNotNull()
    )
    assigned = _pq_code_rows(_subvec_table(u, "__cid", m), codebook)
    return _codes_to_array(assigned).select(
        F.col("__cid").alias(id_col), "codes"
    )


def _codes_to_array(assigned: DataFrame) -> DataFrame:
    """(__cid, codes): fold per-(id, subspace) codeword rows into the
    subspace-ordered code array (the persisted compressed row format)."""
    return assigned.groupBy("__cid").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("__sub", "__cell"))),
            lambda st: st["__cell"],
        ).alias("codes")
    )


def _adc_search(
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    m: int,
    cb: DataFrame,
    code_rows: DataFrame,
    k: int,
    rerank: int,
    rerank_vecs: DataFrame | None,
    per_query_codes: bool = False,
    offsets: DataFrame | None = None,
) -> DataFrame:
    """Shared PQ query path: broadcast the per-query (subspace, codeword) →
    partial-dot ADC table, score the compressed code rows map-side, top-k
    per query; optionally re-score the leading ``rerank`` candidates
    exactly against ``rerank_vecs`` (__cid, __vn). With
    ``per_query_codes`` the code rows already carry a query_id (IVF-PQ's
    probed-cell restriction) and the ADC join keys on it too."""
    qn = _normalized(queries, id_col, vec_col, "query_id").filter(
        F.col("__vn").isNotNull()
    )
    qsv = _subvec_table(qn, "query_id", m)
    # a query whose dim differs from the corpus but still divides by m
    # passes _subvec_table's check, then zip_with over mismatched lengths
    # yields NULL partial dots and the ranking silently degenerates —
    # raise instead. The assert must be the when/otherwise GATE of the
    # value, not an addend: `NULL + assert` short-circuits on the NULL
    # left operand and never evaluates the assert — exactly in the
    # failure case it guards.
    dims_ok = F.size("__sv") == F.size("__cvec")
    partial = F.when(dims_ok, dot(F.col("__sv"), F.col("__cvec"))).otherwise(
        F.assert_true(
            dims_ok,
            F.concat(
                F.lit("PQ query subvector dim "),
                F.size("__sv").cast("string"),
                F.lit(" != codebook codeword dim "),
                F.size("__cvec").cast("string"),
            ),
        ).cast("double")
    )
    adc = qsv.join(F.broadcast(cb), "__sub").select(
        "query_id",
        "__sub",
        "__cell",
        partial.alias("__p"),
    )
    join_keys = (
        ["query_id", "__sub", "__cell"] if per_query_codes else ["__sub", "__cell"]
    )
    scored = (
        code_rows.join(F.broadcast(adc), join_keys)
        .filter(F.col("query_id") != F.col("__cid"))
        .groupBy("query_id", "__cid")
        .agg(F.sum("__p").alias("cos_sim"))
    )
    if offsets is not None:
        # residual encoding: ADC scored q·r; add the per-candidate q·centroid
        # term so cos_sim approximates q·(centroid + r) = q·x
        scored = scored.join(offsets, ["query_id", "__cid"]).withColumn(
            "cos_sim", F.col("cos_sim") + F.col("__off")
        ).drop("__off")
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("__cid").asc()
    )
    ranked = scored.withColumn("rnk", F.row_number().over(w))
    if not rerank:
        return ranked.filter(F.col("rnk") <= k).select(
            "query_id", F.col("__cid").alias("neighbor_id"), "cos_sim", "rnk"
        )
    cands = ranked.filter(F.col("rnk") <= rerank).select("query_id", "__cid")
    exact = (
        cands.join(rerank_vecs, "__cid")
        .join(qn.select("query_id", F.col("__vn").alias("__qn")), "query_id")
        .select(
            "query_id",
            F.col("__cid").alias("neighbor_id"),
            dot(F.col("__qn"), F.col("__vn")).alias("cos_sim"),
        )
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return exact.withColumn("rnk", F.row_number().over(w2)).filter(
        F.col("rnk") <= k
    )


def pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    m: int = 16,
    n_codes: int = 16,
    lloyd_iterations: int = 3,
    rerank: int = 0,
    materialize: bool = True,
) -> DataFrame:
    """Product-quantization ANN with asymmetric distance computation (ADC):
    train + encode the corpus, build each query's (subspace, codeword) →
    partial-dot lookup table, and score every corpus vector entirely in
    the compressed domain — the scan reads m small codes per vector, never
    the floats. ``rerank > 0`` re-scores the top ``rerank`` candidates per
    query with exact cosine (one semi-join back to the raw vectors) —
    the standard recall-restoring final pass.

    Scale shape: the ADC table is |queries|·m·n_codes tiny rows —
    broadcast; scoring is a map-side join + one (query, id) hash-agg whose
    map-side combine collapses the ×m fan-out before the shuffle. Returns
    (query_id, neighbor_id, cos_sim, rnk) like the other ANN paths
    (cos_sim is the ADC approximation unless reranked).
    """
    spark = corpus.sparkSession
    # one normalized pass + one subvector table feed training, encoding,
    # AND reranking; the top-k result (|queries|·k rows, tiny by
    # construction) is materialized eagerly so both caches can be released
    # before returning — repeated calls must not accumulate cached corpus
    # copies (the builders' try/finally discipline)
    u = _normalized(corpus, id_col, vec_col, "__cid").filter(
        F.col("__vn").isNotNull()
    ).persist()
    sv = _subvec_table(u, "__cid", m).persist()
    try:
        codebook = _pq_fit(sv, n_codes, lloyd_iterations)
        cb = _pq_codebook_df(spark, codebook)
        code_rows = _pq_code_rows(sv, codebook)
        result = _adc_search(
            queries, id_col, vec_col, m, cb, code_rows, k, rerank,
            u if rerank else None,
        )
        if not materialize:
            # lazy plan for inspection/tests; caches stay alive for the
            # caller to execute against (session LRU reclaims them)
            return result
        return result.localCheckpoint(eager=True)
    finally:
        if materialize:
            sv.unpersist()
            u.unpersist()


def pq_build(
    corpus: DataFrame,
    index_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 16,
    n_codes: int = 16,
    lloyd_iterations: int = 3,
) -> None:
    """Materialize a PQ index on disk: ``index_path/codebook`` holds the
    m×n_codes codewords, ``index_path/codes`` one compressed row per
    vector, ``index_path/vectors`` the normalized raw vectors (rerank
    side). Query batches then scan codes only — the 100 TB shape where the
    compressed table is orders of magnitude smaller than the embeddings.
    New data appends through :func:`pq_encode` with the SAME codebook
    (``mode="append"`` on codes/vectors) — no retraining per batch."""
    codebook = pq_train(corpus, id_col, vec_col, m, n_codes, lloyd_iterations)
    spark = corpus.sparkSession
    _pq_codebook_df(spark, codebook).write.mode("overwrite").parquet(
        f"{index_path}/codebook"
    )
    pq_encode(corpus, codebook, id_col, vec_col).write.mode(
        "overwrite"
    ).parquet(f"{index_path}/codes")
    _normalized(corpus, id_col, vec_col, id_col).filter(
        F.col("__vn").isNotNull()
    ).write.mode("overwrite").parquet(f"{index_path}/vectors")


def pq_query(
    spark,
    index_path: str,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    rerank: int = 0,
) -> DataFrame:
    """Search a prebuilt ``pq_build`` index: ADC scan over the compressed
    codes; ``rerank`` re-scores the leading candidates against the stored
    normalized vectors. Same result shape as :func:`pq_topk`."""
    cb = spark.read.parquet(f"{index_path}/codebook")
    m = cb.agg(F.max("__sub")).collect()[0][0] + 1
    code_rows = spark.read.parquet(f"{index_path}/codes").select(
        F.col(id_col).alias("__cid"),
        F.posexplode("codes").alias("__sub", "__cell"),
    )
    rerank_vecs = (
        spark.read.parquet(f"{index_path}/vectors").select(
            F.col(id_col).alias("__cid"), "__vn"
        )
        if rerank
        else None
    )
    return _adc_search(
        queries, id_col, vec_col, m, cb, code_rows, k, rerank, rerank_vecs
    )


# ---------------------------------------------------------------------------
# IVF-PQ — coarse cells over compressed codes (the combined 100 TB index)


def ivfpq_build(
    corpus: DataFrame,
    index_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    m: int = 16,
    n_codes: int = 16,
    lloyd_iterations: int = 3,
    residual: bool = False,
    meta_cols: list[str] | None = None,
) -> None:
    """Build the combined index: IVF coarse cells bound WHICH vectors a
    query touches (partition pruning), PQ codes bound HOW MUCH each touch
    costs (compressed-domain scoring). ``index_path/codes`` is written
    PARTITIONED BY coarse cell, so an ``n_probe``-cell query reads only
    those directories of a table already ~16× smaller than the raw
    embeddings — the two multiplicative savings that make trillion-vector
    corpora searchable. ``/centroids``, ``/codebook``, ``/vectors``
    (rerank side, also cell-partitioned) complete the index.

    ``meta_cols`` rides filterable metadata on the CODES table, so
    ``ivfpq_query(where=...)`` filters candidates in the compressed
    domain — before ADC scoring, not after the rerank."""
    spark = corpus.sparkSession
    u = _normalized(corpus, id_col, vec_col, "__cid").filter(
        F.col("__vn").isNotNull()
    ).persist()
    try:
        centroids = _train_ivf(u, n_cells, lloyd_iterations)
        coarse = _assign(u, "__vn", "__cid", centroids).withColumnRenamed(
            "__cell", "__coarse"
        )
        if residual:
            # encode x − centroid(cell): residuals are small, so the same
            # codeword budget quantizes them far more finely than raw
            # vectors (the FAISS IVF-PQ recipe); the query side adds the
            # q·centroid term back per candidate
            cent = _centroid_df(spark, centroids).select(
                F.col("__cell").alias("__coarse"),
                F.col("__cvec").alias("__ccvec"),
            )
            enc_in = (
                u.join(coarse, "__cid")
                .join(F.broadcast(cent), "__coarse")
                .select(
                    "__cid",
                    F.zip_with(
                        "__vn", "__ccvec", lambda x, y: x - y
                    ).alias("__vn"),
                )
            )
        else:
            enc_in = u
        sv = _subvec_table(enc_in, "__cid", m).persist()
        try:
            codebook = _pq_fit(sv, n_codes, lloyd_iterations)
            codes = _codes_to_array(_pq_code_rows(sv, codebook))
        finally:
            sv.unpersist()
        codes_out = codes.join(coarse, "__cid")
        if meta_cols:
            codes_out = codes_out.join(
                corpus.select(F.col(id_col).alias("__cid"), *meta_cols),
                "__cid",
            )
        (
            codes_out.write.mode("overwrite")
            .partitionBy("__coarse")
            .parquet(f"{index_path}/codes")
        )
        (
            u.join(coarse, "__cid")
            .write.mode("overwrite")
            .partitionBy("__coarse")
            .parquet(f"{index_path}/vectors")
        )
        _centroid_df(spark, centroids).write.mode("overwrite").parquet(
            f"{index_path}/centroids"
        )
        _pq_codebook_df(spark, codebook).write.mode("overwrite").parquet(
            f"{index_path}/codebook"
        )
        spark.createDataFrame(
            [(residual,)], "residual boolean"
        ).write.mode("overwrite").parquet(f"{index_path}/meta")
    finally:
        u.unpersist()


def pq_append(
    new_corpus: DataFrame,
    index_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incremental ingestion into a :func:`pq_build` index: encode the new
    batch against the PERSISTED codebook (no retraining — codes are
    bit-identical to what :func:`pq_encode` with that codebook yields) and
    append to ``codes`` + ``vectors``. Dim is derived from the codebook
    (m × subvector length) and enforced in-plan per row; the persisted id
    column NAME is re-derived from the codes schema (params-on-data, like
    ivf_append) so a caller passing a different ``id_col`` than the build
    cannot append files whose id column silently mismatches. Codebook
    drift under distribution shift is settled by a periodic
    ``pq_build``."""
    spark = new_corpus.sparkSession
    codebook = _load_codebook(spark, index_path)
    m = max(s for s, _ in codebook) + 1
    dim = m * len(codebook[(0, 0)])
    # the name baked at build time, NOT the caller's id_col: appended
    # parquet files with a different id column name would NULL-out or
    # drop on later unified reads
    built_id = next(
        c
        for c in spark.read.parquet(f"{index_path}/codes").columns
        if c != "codes"
    )
    u = _dim_guard(
        _normalized(new_corpus, id_col, vec_col, "__cid"), dim, "pq_append"
    ).filter(F.col("__vn").isNotNull()).persist()
    try:
        codes = _codes_to_array(
            _pq_code_rows(_subvec_table(u, "__cid", m), codebook)
        )
        codes.select(F.col("__cid").alias(built_id), "codes").write.mode(
            "append"
        ).parquet(f"{index_path}/codes")
        u.select(F.col("__cid").alias(built_id), "__vn").write.mode(
            "append"
        ).parquet(f"{index_path}/vectors")
    finally:
        u.unpersist()


def ivfpq_append(
    new_corpus: DataFrame,
    index_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incremental ingestion into an :func:`ivfpq_build` index: coarse-
    assign each new vector to its nearest existing centroid, PQ-encode
    (the residual when the index was built residual-mode — the flag rides
    ``{path}/meta``, never re-passed) against the persisted codebook, and
    append to the cell-partitioned ``codes`` and ``vectors`` tables.
    ``meta_cols`` baked at build time are re-derived from the codes
    schema. The streaming half of the flagship 100 TB index: cluster +
    train once, ingest forever, rebuild on drift."""
    spark = new_corpus.sparkSession
    centroids = _load_centroids(spark, index_path)
    codebook = _load_codebook(spark, index_path)
    residual = spark.read.parquet(f"{index_path}/meta").first()["residual"]
    m = max(s for s, _ in codebook) + 1
    dim = len(centroids[0][1])
    codes_cols = spark.read.parquet(f"{index_path}/codes").columns
    meta_cols = [
        c for c in codes_cols if c not in ("__cid", "codes", "__coarse")
    ]
    u = _dim_guard(
        _normalized(new_corpus, id_col, vec_col, "__cid"), dim, "ivfpq_append"
    ).filter(F.col("__vn").isNotNull()).persist()
    try:
        coarse = _assign(u, "__vn", "__cid", centroids).withColumnRenamed(
            "__cell", "__coarse"
        )
        if residual:
            cent = _centroid_df(spark, centroids).select(
                F.col("__cell").alias("__coarse"),
                F.col("__cvec").alias("__ccvec"),
            )
            enc_in = (
                u.join(coarse, "__cid")
                .join(F.broadcast(cent), "__coarse")
                .select(
                    "__cid",
                    F.zip_with("__vn", "__ccvec", lambda x, y: x - y).alias(
                        "__vn"
                    ),
                )
            )
        else:
            enc_in = u
        codes = _codes_to_array(
            _pq_code_rows(_subvec_table(enc_in, "__cid", m), codebook)
        ).join(coarse, "__cid")
        if meta_cols:
            codes = codes.join(
                new_corpus.select(F.col(id_col).alias("__cid"), *meta_cols),
                "__cid",
            )
        (
            codes.select(*codes_cols)
            .write.mode("append")
            .partitionBy("__coarse")
            .parquet(f"{index_path}/codes")
        )
        (
            u.join(coarse, "__cid")
            .write.mode("append")
            .partitionBy("__coarse")
            .parquet(f"{index_path}/vectors")
        )
    finally:
        u.unpersist()


def ivfpq_query(
    spark,
    index_path: str,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_probe: int = 4,
    rerank: int = 0,
    where: str | None = None,
) -> DataFrame:
    """Search an ``ivfpq_build`` index: probe each query's ``n_probe``
    closest coarse cells, ADC-score only those cells' code rows, exact
    rerank against only those cells' stored vectors. The union of probed
    cells reaches the scan as a pushed IN-filter on the partition column —
    partition pruning keeps unprobed directories unread.

    ``where`` (SQL predicate over the build's ``meta_cols``) filters the
    code rows AT THE SCAN, so both the ADC top-`rerank` and the final
    top-k are computed over qualifying vectors only — filtered ANN in the
    compressed domain, never a lossy post-filter of unfiltered results."""
    centroids = _load_centroids(spark, index_path)
    cb = spark.read.parquet(f"{index_path}/codebook")
    m = cb.agg(F.max("__sub")).collect()[0][0] + 1
    residual = spark.read.parquet(f"{index_path}/meta").first()["residual"]

    qn = _normalized(queries, id_col, vec_col, "query_id").filter(
        F.col("__vn").isNotNull()
    )
    q_probed = _probe_cells(qn, "__vn", "query_id", centroids, n_probe).select(
        "query_id",
        F.col("__cell").alias("__coarse"),
        F.col("__sim").alias("__coff"),
    )
    probed_cells = [
        r["__coarse"] for r in q_probed.select("__coarse").distinct().collect()
    ]

    codes_src = spark.read.parquet(f"{index_path}/codes").filter(
        F.col("__coarse").isin(probed_cells)
    )
    if where is not None:
        codes_src = codes_src.filter(F.expr(where))
    code_rows = codes_src.join(
        F.broadcast(q_probed.select("query_id", "__coarse")), "__coarse"
    ).select(
        "query_id",
        "__cid",
        F.posexplode("codes").alias("__sub", "__cell"),
    )
    offsets = None
    if residual:
        # per-candidate q·centroid: the ADC sum scores only q·residual
        offsets = codes_src.select("__cid", "__coarse").join(
            F.broadcast(q_probed), "__coarse"
        ).select("query_id", "__cid", F.col("__coff").alias("__off"))
    rerank_vecs = (
        spark.read.parquet(f"{index_path}/vectors")
        .filter(F.col("__coarse").isin(probed_cells))
        .select("__cid", "__vn")
        if rerank
        else None
    )
    return _adc_search(
        queries, id_col, vec_col, m, cb, code_rows, k, rerank, rerank_vecs,
        per_query_codes=True, offsets=offsets,
    )


def semdedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    eps: float = 0.95,
    n_clusters: int = 16,
    lloyd_iterations: int = 4,
    index_path: str | None = None,
    target_cluster_size: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023, arXiv
    2303.09540): k-means-cluster the embedding space, generate candidate
    pairs ONLY within each cluster, connect the eps-similar pairs, and keep
    the minimum id of every duplicate group.

    Returns one row per input vector: (id, cluster, keep) — ``keep`` false
    exactly for the non-representative members of a within-cluster
    duplicate group; zero-norm vectors (cosine undefined) come back with
    NULL cluster and keep=true.

    Scale shape: this is the LINEAR-ish path to embedding dedup — the
    quadratic pair generation runs per cluster, so total scored pairs are
    sum_c n_c² instead of n². Size ``n_clusters`` ~ n / target_cluster_size
    (the paper uses ~100k clusters at web scale); a skewed hot cluster
    degrades toward all-pairs, so raise ``n_clusters`` rather than let
    clusters grow with the corpus. Pass ``target_cluster_size`` to do that
    automatically: ``n_clusters`` is then derived as
    ``max(8, ceil(n / target_cluster_size))`` from one cheap count of the
    (persisted) corpus, so cluster count grows WITH the corpus and mean
    cluster size — hence per-cluster pair volume — stays constant at any
    scale. Training is the shared distributed
    Lloyd loop (n_clusters rows to the driver per iteration); assignment is
    a broadcast-centroid argmax; the within-cluster self-join is a plain
    shuffled equi-join on the cluster id; components use the persisted
    label-propagation loop. Unlike the paper's "drop everything within eps
    of anything" greedy pass, representatives are the connected-component
    minimum — deterministic under any partitioning and independent of
    visit order.

    Exactness contract: within-cluster pairs are EXACT cosine; recall loss
    vs global ``cosine_pairs`` + components happens only when a true pair
    straddles a cluster boundary (the trade the paper makes). Use
    ``semantic_dedup``'s global pair path when exactness matters more than
    linearity.

    ``index_path`` (or the :func:`semdedup_build` wrapper) additionally
    persists the train/apply state for incremental ingestion — at 100 TB
    you cluster ONCE and route new batches through
    :func:`semdedup_assign`: ``{path}/centroids`` (the trained k-means
    cells), ``{path}/labels`` (this run's output), ``{path}/reps``
    (cluster-keyed normalized vectors of the KEPT members — the dedup
    frontier new batches must clear), ``{path}/meta`` (eps + dim ride the
    index, never re-passed at query time).
    """
    from tdataframe_spark.ops.dedup import connected_components

    u_all = _normalized(df, id_col, vec_col, "__cid")
    zero = u_all.filter(F.col("__vn").isNull()).select(
        F.col("__cid").alias(id_col),
        F.lit(None).cast("int").alias("cluster"),
        F.lit(True).alias("keep"),
    )
    u = u_all.filter(F.col("__vn").isNotNull()).persist()
    try:
        if target_cluster_size is not None:
            # size from the RAW input: a column-pruned count (metadata-cheap
            # on parquet) instead of materializing the normalized cache
            # early; the few zero-norm rows inflate the estimate harmlessly
            n = df.count()
            n_clusters = max(8, -(-n // target_cluster_size))
        cents = _train_ivf(u, n_clusters, lloyd_iterations)
        uv = _assign_with_vec(u, "__vn", "__cid", cents).persist()
        try:
            left = uv.select(
                "__cell",
                F.col("__cid").alias("id_a"),
                F.col("__vn").alias("__va"),
            )
            right = uv.select(
                "__cell",
                F.col("__cid").alias("id_b"),
                F.col("__vn").alias("__vb"),
            )
            pairs = (
                left.join(right, "__cell")
                .filter(F.col("id_a") < F.col("id_b"))
                .select(
                    "id_a",
                    "id_b",
                    dot(F.col("__va"), F.col("__vb")).alias("cos_sim"),
                )
                .filter(F.col("cos_sim") > eps)
            )
            comp = connected_components(pairs)
            labeled = (
                uv.select(F.col("__cid").alias(id_col), F.col("__cell").alias("cluster"))
                .join(
                    comp.select(
                        F.col("id").alias(id_col),
                        F.col("component").alias("__comp"),
                    ),
                    id_col,
                    "left",
                )
                .select(
                    id_col,
                    "cluster",
                    (
                        F.col("__comp").isNull()
                        | (F.col("__comp") == F.col(id_col))
                    ).alias("keep"),
                )
            )
            # materialize before releasing the caches the plan reads
            out = labeled.unionByName(zero).localCheckpoint(eager=True)
            if index_path is not None:
                # writes ARE materialization — all four artifacts land
                # while uv's cache is still alive
                spark = df.sparkSession
                _centroid_df(spark, cents).write.mode("overwrite").parquet(
                    f"{index_path}/centroids"
                )
                out.write.mode("overwrite").parquet(f"{index_path}/labels")
                kept = out.filter(
                    F.col("keep") & F.col("cluster").isNotNull()
                ).select(F.col(id_col).alias("__kid"))
                (
                    uv.join(kept, uv["__cid"] == kept["__kid"])
                    .select(
                        F.col("__cid").alias("rep_id"),
                        F.col("__cell").alias("cluster"),
                        "__vn",
                    )
                    .write.mode("overwrite")
                    .parquet(f"{index_path}/reps")
                )
                dim_row = uv.select(F.size("__vn").alias("d")).first()
                spark.createDataFrame(
                    [(float(eps), int(dim_row["d"]) if dim_row else 0)],
                    "eps double, dim int",
                ).write.mode("overwrite").parquet(f"{index_path}/meta")
        finally:
            uv.unpersist()
    finally:
        u.unpersist()
    return out


def semdedup_build(
    df: DataFrame,
    index_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    eps: float = 0.95,
    n_clusters: int = 16,
    lloyd_iterations: int = 4,
    target_cluster_size: int | None = None,
) -> DataFrame:
    """Train-once entry point for :func:`semdedup`: runs the IDENTICAL
    one-shot pipeline (so the persisted labels equal a plain ``semdedup``
    call bit-for-bit — pinned in tests) and persists the centroids /
    labels / kept-representative vectors / meta under ``index_path`` for
    :func:`semdedup_assign`. Returns the labels DataFrame."""
    return semdedup(
        df, id_col, vec_col, eps, n_clusters, lloyd_iterations,
        index_path=index_path, target_cluster_size=target_cluster_size,
    )


def semdedup_assign(
    new_df: DataFrame,
    index_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Incremental semantic dedup: route a NEW batch through a persisted
    :func:`semdedup_build` index WITHOUT retraining k-means or re-running
    connected components — the amortized path that makes SemDeDup viable
    on a growing 100 TB corpus (same incremental contract as the MinHash
    ``build_cluster_index``/``assign_clusters`` pair in ``ops.dedup``).

    Per new vector: broadcast-centroid argmax picks its cluster, then one
    cluster-keyed equi-join scores it (exact cosine) against ONLY that
    cluster's persisted representatives. Returns one row per input:
    (new_id, cluster, keep, matched_rep, n_matches) — ``keep`` false iff
    some kept representative is eps-similar (``matched_rep`` = the
    smallest such rep id); zero-norm vectors come back with NULL cluster
    and keep=true.

    Honest incremental contract (mirrors ``assign_clusters``): matches are
    judged against the PERSISTED index only — duplicates WITHIN the new
    batch, and eps-pairs reachable only through dropped (non-kept)
    members, are settled at the next periodic full ``semdedup_build``.
    ``eps`` and the vector dim ride the index metadata; a batch with a
    different vector dim raises in-plan rather than NULL-degrading.

    Scale shape: stateless projections + one narrow Arrow scoring stage
    against the driver-held centroids (n_clusters rows) + one shuffled
    equi-join on the cluster id; candidate volume is batch_size ×
    cluster_rep_count, never corpus-quadratic.

    Not fully lazy: declaring runs Spark jobs on the driver before
    returning. ``meta.first()`` reads the index metadata (``eps`` and the
    dim are baked into the plan as literals), and ``collect()`` on the
    centroid table pulls the centroids into the scorer's task closure.
    """
    spark = new_df.sparkSession
    meta = spark.read.parquet(f"{index_path}/meta").first()
    eps, dim = float(meta["eps"]), int(meta["dim"])
    cents_df = spark.read.parquet(f"{index_path}/centroids")
    reps = spark.read.parquet(f"{index_path}/reps")

    u = _normalized(new_df, id_col, vec_col, "__nid")
    # dim guard rides the otherwise-branch (the NULL-short-circuit-proof
    # pattern): a wrong-dim vector still has a norm, so it reaches the
    # assert instead of silently zip_with-padding the dot to garbage
    checked = u.withColumn(
        "__vn",
        F.when(F.col("__vn").isNull(), F.col("__vn")).otherwise(
            F.when(F.size("__vn") == dim, F.col("__vn")).otherwise(
                F.assert_true(
                    F.size("__vn") == dim,
                    F.lit(
                        f"semdedup_assign: vector dim != index dim {dim}"
                    ),
                ).cast("array<double>")
            )
        ),
    )
    zero = checked.filter(F.col("__vn").isNull()).select(
        F.col("__nid").alias("new_id"),
        F.lit(None).cast("int").alias("cluster"),
        F.lit(True).alias("keep"),
        F.lit(None).cast(reps.schema["rep_id"].dataType).alias("matched_rep"),
        F.lit(0).cast("long").alias("n_matches"),
    )
    nz = checked.filter(F.col("__vn").isNotNull())
    # Arrow-batched argmax against the persisted centroids (see _assign
    # for why not fan-out+max_by, and _np_fold_argmax for the
    # bit-identity argument vs the r11 HOF fold). The centroid table is
    # n_clusters tiny rows — collecting it driver-side costs what the
    # broadcast build job cost, and the ascending-cell candidate order
    # preserves the max-score/lowest-cell-tie ordering.
    cents = [
        (r["__cell"], list(r["__cvec"])) for r in cents_df.collect()
    ]
    assigned = _assign_arrow(nz, "__vn", "__nid", cents, carry_vec=True)
    hits = (
        assigned.join(
            reps.withColumnRenamed("cluster", "__cell").withColumnRenamed(
                "__vn", "__rv"
            ),
            "__cell",
            "left",
        )
        .withColumn(
            "__match",
            F.col("__rv").isNotNull()
            & (dot(F.col("__vn"), F.col("__rv")) > eps),
        )
        .groupBy("__nid", "__cell")
        .agg(
            F.min(F.when(F.col("__match"), F.col("rep_id"))).alias(
                "matched_rep"
            ),
            F.sum(F.col("__match").cast("long")).alias("n_matches"),
        )
    )
    live = hits.select(
        F.col("__nid").alias("new_id"),
        F.col("__cell").alias("cluster"),
        F.col("matched_rep").isNull().alias("keep"),
        "matched_rep",
        F.coalesce("n_matches", F.lit(0)).cast("long").alias("n_matches"),
    )
    return live.unionByName(zero)
