"""Deduplication operators: exact, n-gram Jaccard, MinHash-LSH, SimHash.

Scale design notes (the point of each variant):

- **exact**: fingerprint (md5 of normalized text) + keyed dedup — one
  shuffle on the hash, the canonical first pass at any corpus scale.
- **n-gram Jaccard**: EXACT near-dup via an inverted-index self-join on
  shingles — explode(shingles) → join on shingle → count common per pair →
  jaccard = |∩| / (|A|+|B|-|∩|). No O(n²) cross join: only pairs sharing a
  shingle are materialized. At 100 TB you additionally prune ultra-common
  shingles (document-frequency cap) before the join — exposed as
  ``max_shingle_df``.
- **MinHash-LSH**: approximate candidate generation when even the inverted
  index is too hot: k minhashes per doc (array expression over xxhash64,
  JVM-native, no UDF), banded into b buckets; only same-bucket pairs are
  candidates. Then verify candidates with exact Jaccard. Tunable recall via
  (bands, rows-per-band).
- **SimHash**: 64-bit fingerprint whose Hamming distance bounds cosine-ish
  similarity of token sets; near-dup = small Hamming distance. Bit-majority
  is computed as 64 array-expression sums — still no UDF.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from global_stock_data_warehouse_spark.operators.text import fingerprint, tokens


# ---------------------------------------------------------------------------
# exact
# ---------------------------------------------------------------------------


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one doc (min id) per exact normalized-text fingerprint."""
    return (
        df.select(F.col(id_col), fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_dups"))
    )


def paragraph_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n\n",
) -> DataFrame:
    """Paragraph-level exact dedup across the whole corpus (the Dolma /
    C4-style pass): split every doc into paragraphs on ``sep``, keep only
    the globally FIRST occurrence (by ``(doc_id, position)``) of each
    distinct trimmed paragraph, and reassemble docs from their surviving
    paragraphs in original order.

    Returns ``(id_col, text, n_paras, n_kept)``; docs whose every
    paragraph was seen earlier elsewhere are dropped (n_kept = 0 — the
    standard corpus-cleaning behavior for fully-boilerplate docs).

    Scale design: one ``posexplode`` (no self-join), then exactly two
    shuffles — a window keyed on the paragraph's md5 fingerprint (64-char
    key, never the paragraph text) to pick winners, and the doc_id group
    to reassemble. Both are hash-partitioned on high-cardinality keys;
    a boilerplate paragraph repeated a billion times skews its window
    partition, which AQE's skew handling splits — the per-row state is
    only (doc_id, idx), never the text.

    ``sep`` is a literal string (regex-escaped before ``F.split``).
    """
    import re as _re

    para = F.trim(F.col("_para"))
    exploded = (
        df.select(
            F.col(id_col),
            F.posexplode(F.split(F.col(text_col), _re.escape(sep))).alias(
                "_idx", "_para"
            ),
        )
        .select(F.col(id_col), F.col("_idx"), para.alias("_p"))
        .filter(F.col("_p") != "")
    )
    w = Window.partitionBy(F.md5(F.col("_p"))).orderBy(id_col, "_idx")
    ranked = exploded.withColumn("_rn", F.row_number().over(w))
    return (
        ranked.groupBy(id_col)
        .agg(
            F.concat_ws(
                sep,
                F.transform(
                    F.sort_array(
                        F.collect_list(
                            F.when(F.col("_rn") == 1, F.struct("_idx", "_p"))
                        )
                    ),
                    lambda s: s["_p"],
                ),
            ).alias("text"),
            F.count(F.lit(1)).alias("n_paras"),
            F.sum(F.when(F.col("_rn") == 1, 1).otherwise(0)).alias("n_kept"),
        )
        .filter(F.col("n_kept") > 0)
    )


# ---------------------------------------------------------------------------
# shingles + exact n-gram Jaccard via inverted-index join
# ---------------------------------------------------------------------------


def shingles(col: Column | str, n: int = 2) -> Column:
    """Distinct word n-gram shingles of the lowercased text.

    Built by folding ``zip_with`` over n shifted slices of the token
    array — O(n·len) per doc with no struct materialization. NOT a
    transform over an index sequence (that would re-split the text once
    per position: quadratic, measured 20s for 5k docs), and NOT
    arrays_zip+transform (struct build/destructure measured ~4x slower
    than zip_with on real corpora).
    """
    return shingles_from(tokens(col), n)


def shingles_from(toks: Column, n: int = 2) -> Column:
    """``shingles`` over an already-tokenized array column — the reuse
    hook for plans that materialize tokens once (plans/llm_gold.py)."""
    m = F.size(toks) - (n - 1)
    grams = F.slice(toks, 1, m)
    for j in range(1, n):
        grams = F.zip_with(
            grams,
            F.slice(toks, j + 1, m),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    return F.when(m >= 1, F.array_distinct(grams)).otherwise(F.array().cast("array<string>"))


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 2,
    threshold: float = 0.5,
    max_shingle_df: int | None = None,
    strategy: str = "auto",
    dense_max_vocab: int = 8192,
    dense_max_docs: int = 200_000,
    block_size: int = 1024,
    tokens_col: str | None = None,
) -> DataFrame:
    """All doc pairs (a < b) with shingle-set Jaccard >= threshold. Exact.

    ``tokens_col`` names a pre-materialized token-array column; shingles
    are then built from it directly and ``text_col`` is never re-split —
    the reuse hook for plans that tokenize the corpus once
    (plans/llm_gold.py).

    Two physical strategies, picked by corpus shape (``strategy='auto'``
    runs a cheap stats job — doc count + distinct-shingle count — first,
    the engine's equivalent of planner statistics):

    - ``'sparse'`` (large vocab / sparse similarity graph — natural text at
      corpus scale): prefix-filtered inverted-index join, below.
    - ``'dense'`` (small vocab / dense similarity graph, where ANY
      row-materialized pair set costs an O(n²)-row shuffle): binary
      term-vector blocks + BLAS matmul. Each doc becomes a 0/1 vector over
      the (small) vocab; docs are hash-partitioned into blocks; the
      block-pair cross join is tiny (B(B+1)/2 rows of packed arrays); and
      ``A @ B.T`` inside one ``mapInPandas`` computes ALL pairwise
      intersection counts vectorized — pairs never exist as Spark rows,
      only the passing results do. Work is O(n²·V) SIMD FLOPs spread
      uniformly over block-pair tasks; no shuffle skew by construction.
      (Measured at sf0.1: 55s pair-count / 76s prefix-index -> ~6s dense.)

    Sparse path = AllPairs/PPJoin-style **prefix filtering** (Bayardo et
    al., WWW'07):
    J(A,B) >= t requires |A∩B| >= ceil(t*max(|A|,|B|)), so under any global
    total order on shingles, the two docs' prefixes of length
    ``n_sh - ceil(t*n_sh) + 1`` must intersect (pigeonhole). We order
    shingles by (global document frequency asc, hash) — rarest first — and
    index ONLY the prefix; ultra-common shingles (the "of the" problem)
    land in nearly every doc's pruned suffix, so the candidate join never
    sees their O(df²) pair blowup. Candidates are then verified with an
    exact ``array_intersect`` on the full hashed-shingle arrays: exact
    results, skew-proof candidate generation.

    Shuffle plan: df-count agg + df-join + per-doc window (rank prefix) +
    candidate self-join on shingle hash + two verify joins on doc id — all
    keys either uniform (hash) or bounded (doc id). Compare the naive
    inverted-index pair-count, whose group-by materializes sum(df²)/2 rows
    (~18M at sf0.1; measured 55s -> this formulation ~1/10th of that).

    Shingle identity is the 64-bit xxhash64 of the shingle string: long keys
    shuffle/compare faster, collisions ~2^-64 per cross-shingle pair.
    ``max_shingle_df`` additionally drops globally-hotter-than-cap shingles
    from BOTH index and verify arrays (approximate, recall-lowering; only
    needed when even verification arrays get hot at extreme corpus scale).
    """
    from global_stock_data_warehouse_spark.operators.skew import fan_scan

    # metadata-only count BEFORE the fan (a count through a repartition
    # would execute the exchange; on the raw scan it reads the footer)
    n_docs = df.count() if strategy in ("auto", "dense") else None
    # tokenize/shingle is the CPU wall of every strategy: floor its
    # parallelism at the session's core count (no-op at scale — see
    # fan_scan), shuffling only the two columns the operator reads
    sel = [id_col, tokens_col] if tokens_col else [id_col, text_col]
    df = fan_scan(df.select(*sel))
    sh_expr = (
        shingles_from(F.col(tokens_col), n) if tokens_col else shingles(text_col, n)
    )
    if strategy == "auto":
        # Planner-stats probe folded into the artifact the dense path needs
        # anyway: ONE job collects the distinct shingle-hash vocab bounded
        # at dense_max_vocab+1 rows (<= 64 KB of longs — safe at any corpus
        # scale because the limit bounds the collect, not the data). Its
        # size decides the strategy and the collected vocab IS the dense
        # path's column index (r12: this replaces a cache + count + count
        # job chain and the dense path's explode -> broadcast-join ->
        # collect_set bitmap shuffle with a driver-side sorted array).
        vocab_hashes: list[int] | None = None
        if n_docs <= dense_max_docs:
            rows = (
                df.select(F.explode(sh_expr).alias("s"))
                .select(F.xxhash64("s").alias("h"))
                .distinct()
                .limit(dense_max_vocab + 1)
                .collect()
            )
            if len(rows) <= dense_max_vocab:
                vocab_hashes = [r[0] for r in rows]
        if vocab_hashes is not None:
            return _ngram_jaccard_dense(
                df, text_col, id_col, n, threshold, block_size,
                vocab_hashes=vocab_hashes, tokens_col=tokens_col, n_docs=n_docs,
            )
        strategy = "sparse"
    if strategy == "dense":
        return _ngram_jaccard_dense(
            df, text_col, id_col, n, threshold, block_size,
            tokens_col=tokens_col, n_docs=n_docs,
        )

    sh = df.select(
        F.col(id_col).alias("id"),
        F.transform(sh_expr, lambda s: F.xxhash64(s)).alias("sh"),
    )
    # the exploded posting list feeds the document-frequency aggregate,
    # the prefix ranking, and (under max_shingle_df) the shingle-set
    # rebuild — materialize it once instead of re-running the
    # scan -> tokenize -> shingle -> hash -> explode chain per consumer
    inv = sh.select(
        "id", F.size("sh").alias("n_sh"), F.explode("sh").alias("h")
    ).localCheckpoint(eager=True)
    dfreq = inv.groupBy("h").agg(F.count(F.lit(1)).alias("sh_df"))
    if max_shingle_df is not None:
        dfreq = dfreq.filter(F.col("sh_df") <= max_shingle_df)
        inv = inv.join(dfreq.select("h"), "h", "left_semi")
        sh = (
            inv.groupBy("id")
            .agg(F.collect_list("h").alias("sh"))
            .select("id", "sh")
        )
    prefix_len = F.col("n_sh") - F.ceil(F.lit(threshold) * F.col("n_sh")) + 1
    ranked = (
        inv.join(dfreq, "h")
        .withColumn(
            "rk",
            F.row_number().over(Window.partitionBy("id").orderBy("sh_df", "h")),
        )
        .filter(F.col("rk") <= prefix_len)
        .select("id", "h")
        # self-join below: cut so the prefix ranking runs once, not per side
        .localCheckpoint(eager=True)
    )
    a = ranked.alias("a")
    b = ranked.alias("b")
    cands = (
        a.join(b, (F.col("a.h") == F.col("b.h")) & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    sa = sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    sb = sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    return (
        cands.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("n_common", F.size(F.array_intersect("sh_a", "sh_b")).cast("bigint"))
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common") / (F.size("sh_a") + F.size("sh_b") - F.col("n_common")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "n_common", "jaccard")
    )


def _derive_pair_blocks(n_docs: int, block_size: int, spark) -> int:
    """Block count for the blocked all-pairs paths, sized so that (a) a
    block holds at most ``block_size`` docs — bounding per-task matrix
    memory regardless of corpus size — and (b) the B(B+1)/2 block pairs
    can occupy every core: pair count IS the parallelism of the matmul
    stage, and its FLOPs are uniform across pairs. (b) only lifts B for
    small corpora (where replication bytes are trivial); at scale (a)
    dominates and the derived count is unchanged."""
    b_mem = max(1, -(-n_docs // max(1, block_size)))
    cores = spark.sparkContext.defaultParallelism
    b_par = 1
    while b_par * (b_par + 1) // 2 < cores:
        b_par += 1
    return max(b_mem, min(b_par, n_docs))


def _ngram_jaccard_dense(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int,
    threshold: float,
    block_size: int,
    vocab_hashes: list[int] | None = None,
    tokens_col: str | None = None,
    n_docs: int | None = None,
) -> DataFrame:
    """Dense-regime exact Jaccard: blocked binary-matrix multiply.

    1. Map-only: per doc, the distinct shingle xxhash64 array (same 64-bit
       shingle identity the sparse path uses).
    2. The vocab — all distinct shingle hashes, <= dense_max_vocab by the
       regime gate, so <= 64 KB of longs — is collected once (by the auto
       probe, or here) and shipped SORTED in the task closure; each task
       maps hashes to contiguous column indices with one vectorized
       ``np.searchsorted`` per doc. (r12: this replaces the former
       explode -> broadcast-join -> per-doc collect_set chain — two wide
       shuffles plus a single-partition vocab window — with zero jobs.)
    3. Docs hash into B blocks; ONE shuffle packs each block into a row.
    4. The B(B+1)/2 upper-triangle block pairs are formed by an explode +
       equi-join of the packed rows (never a theta-join CartesianProduct)
       and ROUND-ROBIN repartitioned one pair per task: pair rows are tiny
       in BYTES but carry the stage's entire quadratic FLOP volume, the
       exact shape AQE's byte-based coalescing mis-sizes (guide §2.2/§2.5
       — measured 4 post-AQE tasks for 15 pairs at sf0.1, a 4x parallelism
       loss on the bench's hottest stage).
    5. One ``mapInPandas`` block pair per task: unpack to 0/1 float32
       matrices, ``inter = A @ B.T`` (BLAS sgemm), jaccard =
       inter / (|A| + |B| - inter); only PASSING pairs become rows.
       Counts < 2^24 are exact in float32; rounding replicates F.round's
       HALF_UP so results are bit-identical to the sparse path / oracle.

    Block replication cost: each block's packed arrays ship to B tasks, so
    shuffled bytes ~ 2·B·(corpus shingle-hash bytes) — the regime
    preconditions (docs <= dense_max_docs) keep that bounded; beyond it
    the sparse path wins and auto-selection takes it.
    """
    import numpy as np
    import pandas as pd

    spark = df.sparkSession
    if n_docs is None:
        n_docs = df.count()
    n_docs = max(1, n_docs)
    n_blocks = _derive_pair_blocks(n_docs, block_size, spark)

    sh_expr = (
        shingles_from(F.col(tokens_col), n) if tokens_col else shingles(text_col, n)
    )
    sh = df.select(
        F.col(id_col).alias("id"),
        F.transform(sh_expr, lambda s: F.xxhash64(s)).alias("sh"),
    )
    if vocab_hashes is None:
        vocab_hashes = [
            r[0] for r in sh.select(F.explode("sh").alias("h")).distinct().collect()
        ]
    vocab = np.sort(np.asarray(vocab_hashes, dtype=np.int64))

    blocks = (
        sh.withColumn("blk", F.pmod(F.hash("id"), F.lit(n_blocks)).cast("int"))
        .groupBy("blk")
        .agg(F.collect_list(F.struct("id", "sh")).alias("docs"))
        # both sides of the block-pair join read this (tiny: B rows of
        # packed arrays); cut so the shingle build runs once, not twice
        .localCheckpoint(eager=True)
    )
    # Upper-triangle block pairs as an EQUI-join: each block explodes its
    # own id to every >= block id (the replication the pair join must do
    # anyway), then joins the partner block on that key — a plain shuffle
    # hash join instead of the CartesianProduct a `blk_a <= blk_b` theta
    # join would compile to (banned by the global plan-antipattern gate).
    lhs = blocks.select(
        F.col("blk").alias("blk_a"),
        F.col("docs").alias("docs_a"),
        F.explode(F.sequence(F.col("blk"), F.lit(n_blocks - 1))).alias("blk_b"),
    )
    n_pairs = n_blocks * (n_blocks + 1) // 2
    block_pairs = (
        lhs.join(
            blocks.select(F.col("blk").alias("blk_b"), F.col("docs").alias("docs_b")),
            "blk_b",
        )
        .select("blk_a", "blk_b", "docs_a", "docs_b")
        # round-robin: exactly one compute-heavy pair row per task (hash
        # partitioning on the pair key would collide pairs onto shared
        # tasks and leave others empty — guide §2.5)
        .repartition(n_pairs)
    )

    def to_matrix(docs) -> tuple[np.ndarray, np.ndarray]:
        ids = np.fromiter((d["id"] for d in docs), dtype=np.int64, count=len(docs))
        mat = np.zeros((len(docs), len(vocab)), dtype=np.float32)
        for i, d in enumerate(docs):
            hs = np.asarray(d["sh"], dtype=np.int64)
            if hs.size:
                mat[i, np.searchsorted(vocab, hs)] = 1.0
        return ids, mat

    def run(batches) -> "pd.DataFrame":
        for pdf in batches:
            for _, row in pdf.iterrows():
                same = row["blk_a"] == row["blk_b"]
                ids_a, mat_a = to_matrix(row["docs_a"])
                if same:
                    ids_b, mat_b = ids_a, mat_a
                else:
                    ids_b, mat_b = to_matrix(row["docs_b"])
                inter = (mat_a @ mat_b.T).astype(np.float64)
                sz_a = mat_a.sum(axis=1, dtype=np.float64)
                sz_b = mat_b.sum(axis=1, dtype=np.float64)
                union = sz_a[:, None] + sz_b[None, :] - inter
                with np.errstate(divide="ignore", invalid="ignore"):
                    jac = np.where(union > 0, inter / union, 0.0)
                jac = np.floor(jac * 1e6 + 0.5) / 1e6  # HALF_UP like F.round
                if same:
                    keep = (jac >= threshold) & (ids_a[:, None] < ids_b[None, :])
                    ia, ib = np.nonzero(keep)
                    out_a, out_b = ids_a[ia], ids_b[ib]
                else:
                    # a cross-block pair appears exactly once; orient by id
                    ia, ib = np.nonzero(jac >= threshold)
                    aa, bb = ids_a[ia], ids_b[ib]
                    out_a, out_b = np.minimum(aa, bb), np.maximum(aa, bb)
                yield pd.DataFrame(
                    {
                        "id_a": out_a,
                        "id_b": out_b,
                        "n_common": inter[ia, ib].astype(np.int64),
                        "jaccard": jac[ia, ib],
                    }
                )

    return block_pairs.mapInPandas(
        run, schema="id_a bigint, id_b bigint, n_common bigint, jaccard double"
    )


# ---------------------------------------------------------------------------
# MinHash + LSH banding
# ---------------------------------------------------------------------------


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    ngram: int = 2,
) -> DataFrame:
    """k-minhash signature per doc, as columns mh0..mh{k-1} — MAP-SIDE,
    no shuffle.

    Each shingle gets ONE Spark-side ``xxhash64``; the k permutations are
    the multiply-shift universal family h_k(x) = a_k*x + b_k over uint64
    wraparound (odd a_k, fixed seed — deterministic across runs and
    executors), applied as a single (n_shingles x k) vectorized numpy op
    per doc inside the scanning task. The previous formulation exploded
    every shingle through a k-aggregate groupBy — |shingles| shuffled rows
    — where this one never shuffles signature inputs at all. Downstream
    only ever tests signature EQUALITY (band buckets, estimator
    positions), so the hash-family change is behavior-neutral; recall
    floors are re-asserted by the recall-gate test. Docs with zero
    shingles emit no row (parity with the groupBy formulation).
    """
    from collections.abc import Iterator as _Iterator

    import numpy as np
    import pandas as pd

    from global_stock_data_warehouse_spark.operators.skew import fan_scan

    # tokenize -> shingle -> hash -> numpy minhash is the CPU wall of the
    # whole LSH pipeline and runs inside the scanning task: floor its
    # parallelism at the session's core count (structural no-op at scale
    # — see fan_scan), shuffling only the two columns the kernel reads
    hashed = fan_scan(df.select(id_col, text_col)).select(
        F.col(id_col).alias("id"),
        F.transform(shingles(text_col, ngram), lambda s: F.xxhash64(s)).alias("hs"),
    )
    id_type = hashed.schema["id"].dataType.simpleString()
    rng = np.random.default_rng(0x5EED)
    mult = (rng.integers(1, 1 << 62, size=num_hashes, dtype=np.uint64) << np.uint64(1)) | np.uint64(1)
    add = rng.integers(0, 1 << 62, size=num_hashes, dtype=np.uint64)

    def sig(batches: _Iterator[pd.DataFrame]) -> _Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            ids, rows = [], []
            for i, hs in zip(pdf["id"], pdf["hs"]):
                # null text -> null shingle array: drop the doc, like the
                # old explode+groupBy formulation did
                if hs is None:
                    continue
                arr = np.asarray(hs, dtype=np.int64).view(np.uint64)
                if arr.size == 0:
                    continue
                vals = arr[:, None] * mult[None, :] + add[None, :]  # uint64 wrap
                rows.append(vals.min(axis=0).view(np.int64))
                ids.append(i)
            if not ids:
                continue
            out = pd.DataFrame(
                np.stack(rows), columns=[f"mh{k}" for k in range(num_hashes)]
            )
            out.insert(0, "id", pd.Series(ids))
            yield out

    schema = f"id {id_type}, " + ", ".join(f"mh{k} long" for k in range(num_hashes))
    return hashed.mapInPandas(sig, schema=schema)


def plan_lsh_bands(
    threshold: float,
    num_hashes: int = 32,
    fp_weight: float = 0.5,
    fn_weight: float = 0.5,
    steps: int = 500,
) -> dict:
    """Choose the (bands, rows) banding for a target Jaccard
    ``threshold``: minimize the weighted false-positive +
    false-negative probability integrals of the banded-LSH S-curve

        P(candidate | s) = 1 - (1 - s^rows)^bands

    (Mining of Massive Datasets §3.4.3 — the standard planning recipe).
    fp = integral_0^t P(s) ds (pairs BELOW the threshold that still
    collide), fn = integral_t^1 (1 - P(s)) ds (pairs above it that
    don't); trapezoid rule over ``steps`` points. Returns
    ``{bands, rows, fp, fn, s_curve_midpoint}`` where the midpoint
    (1/bands)^(1/rows) is where the S-curve crosses ~50%.

    Driver-side pure arithmetic over at most num_hashes divisor pairs x
    steps points — planning cost is microseconds; run it ONCE before a
    corpus-scale :func:`minhash_neardup` instead of hand-picking bands
    (a banding tuned for 0.5 silently misses 0.8-threshold dups, and
    vice versa floods the verifier with sub-threshold candidates).
    """
    if not 0.0 < threshold < 1.0:
        raise ValueError("threshold must be in (0, 1)")
    best = None
    for bands in range(1, num_hashes + 1):
        if num_hashes % bands:
            continue
        rows = num_hashes // bands

        def p_collide(s: float) -> float:
            return 1.0 - (1.0 - s**rows) ** bands

        dx = threshold / steps
        fp = sum(
            (p_collide(i * dx) + p_collide((i + 1) * dx)) / 2.0 * dx
            for i in range(steps)
        )
        dx = (1.0 - threshold) / steps
        fn = sum(
            (
                (1.0 - p_collide(threshold + i * dx))
                + (1.0 - p_collide(threshold + (i + 1) * dx))
            )
            / 2.0
            * dx
            for i in range(steps)
        )
        err = fp_weight * fp + fn_weight * fn
        if best is None or err < best["_err"]:
            best = {
                "bands": bands,
                "rows": rows,
                "fp": fp,
                "fn": fn,
                "s_curve_midpoint": (1.0 / bands) ** (1.0 / rows),
                "_err": err,
            }
    out = dict(best)
    del out["_err"]
    return out


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    ngram: int = 2,
) -> DataFrame:
    """Candidate near-dup pairs via banded minhash bucketing.

    rows_per_band = num_hashes // bands; two docs are candidates if ANY band
    of their signatures matches exactly. Shuffle key = (band_idx, band_hash)
    — uniform by construction, skew-free.
    """
    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    r = num_hashes // bands
    sig = minhash_signatures(df, text_col, id_col, num_hashes, ngram)
    banded = sig.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.xxhash64(*[F.col(f"mh{bi * r + j}") for j in range(r)]).alias("bucket"),
                    )
                    for bi in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")
    # the self-join below would otherwise execute the signature kernel
    # (scan -> shingle hash -> numpy minhash) once PER SIDE; materialize
    # the banded frame once
    banded = banded.localCheckpoint(eager=True)
    x = banded.alias("x")
    y = banded.alias("y")
    return (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bucket") == F.col("y.bucket"))
            & (F.col("x.id") < F.col("y.id")),
        )
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .distinct()
    )


def minhash_neardup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int | None = 8,
    ngram: int = 2,
    threshold: float = 0.5,
    verify: str = "estimate",
) -> DataFrame:
    """Banded-LSH near-dup pairs with pluggable verification.

    ``bands=None`` plans the banding from the threshold via
    :func:`plan_lsh_bands` (S-curve FP+FN minimization) instead of the
    hand-picked default — the right call whenever the threshold is not
    the 0.5 the default banding was tuned for.

    ``verify='estimate'`` (default, single-pass): signatures ride along the
    band join as packed arrays; candidate pairs are scored by the MinHash
    estimator itself — fraction of matching signature positions, unbiased
    for Jaccard with stderr ~ sqrt(t(1-t)/k). ONE shuffle join + one pair
    group; no re-join against full shingle arrays. This is the true LSH
    scale path: at 100 TB the shingle arrays are the thing you cannot
    afford to move twice, the 32x8B signature is the thing you can.

    ``verify='exact'``: candidates re-joined to full shingle sets and
    scored with exact ``array_intersect`` Jaccard (precision-exact, two
    extra shuffles). Output column is ``jaccard`` either way; with
    'estimate' it is the k-sample estimate, not the exact value.
    """
    if bands is None:
        bands = plan_lsh_bands(threshold, num_hashes)["bands"]
    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    if verify == "exact":
        cands = minhash_lsh_candidates(df, text_col, id_col, num_hashes, bands, ngram)
        sh = df.select(F.col(id_col).alias("id"), shingles(text_col, ngram).alias("sh"))
        a = sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
        b = sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
        return (
            cands.join(a, "id_a")
            .join(b, "id_b")
            .withColumn("n_common", F.size(F.array_intersect("sh_a", "sh_b")))
            .withColumn(
                "jaccard",
                F.round(
                    F.col("n_common")
                    / (F.size("sh_a") + F.size("sh_b") - F.col("n_common")),
                    6,
                ),
            )
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard")
        )

    banded = _banded_signatures(df, text_col, id_col, num_hashes, bands, ngram)
    # self-join: without a cut the signature kernel runs once per side
    banded = banded.localCheckpoint(eager=True)
    x, y = banded.alias("x"), banded.alias("y")
    # estimate computed IN the join output and filtered before the pair
    # dedup: only passing pairs reach the distinct's shuffle.
    matches = F.size(
        F.filter(
            F.zip_with(F.col("x.sig"), F.col("y.sig"), lambda a, b: a == b), lambda v: v
        )
    )
    return (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bucket") == F.col("y.bucket"))
            & (F.col("x.id") < F.col("y.id")),
        )
        .select(
            F.col("x.id").alias("id_a"),
            F.col("y.id").alias("id_b"),
            F.round(matches / F.lit(num_hashes), 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
        .distinct()
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """SimHash per doc, computed MAP-SIDE in one Arrow kernel — NO shuffle.

    Token hashes stay Spark-side (``xxhash64``, so signatures are identical
    to the previous explode+aggregate formulation), grouped per doc as an
    array; the per-bit majority is one vectorized numpy bit-unpack + column
    sum per doc. This replaces an explode of every token row through a
    64-aggregate groupBy (|tokens| shuffled rows, 64 when/sum exprs per
    row in codegen) with a narrow per-row kernel: the signature never
    leaves the task that read the doc. Docs with zero tokens emit no row
    (parity with the explode formulation, whose groupBy never saw them).
    """
    from collections.abc import Iterator as _Iterator

    import numpy as np
    import pandas as pd

    from global_stock_data_warehouse_spark.operators.skew import fan_scan

    # same parallelism floor as minhash_signatures: the tokenize+hash
    # chain and the per-bit majority kernel otherwise run inside however
    # few tasks the scan yields (one, for a single-file input)
    hashed = fan_scan(df.select(id_col, text_col)).select(
        F.col(id_col).alias("id"),
        F.transform(tokens(text_col), lambda t: F.xxhash64(t)).alias("hs"),
    )
    id_type = hashed.schema["id"].dataType.simpleString()

    def sig(batches: _Iterator[pd.DataFrame]) -> _Iterator[pd.DataFrame]:
        shifts = np.arange(64, dtype=np.int64)
        for pdf in batches:
            if pdf.empty:
                continue
            ids, sigs = [], []
            for i, hs in zip(pdf["id"], pdf["hs"]):
                # null text -> null token array: drop the doc (explode
                # parity)
                if hs is None:
                    continue
                arr = np.asarray(hs, dtype=np.int64)
                if arr.size == 0:
                    continue
                # (n, 64) bit matrix; arithmetic shift is fine — & 1 keeps
                # only the target bit regardless of sign fill
                ones = ((arr[:, None] >> shifts) & 1).sum(axis=0)
                maj = ones * 2 >= arr.size
                v = int(np.bitwise_or.reduce(np.where(maj, np.uint64(1) << shifts.astype(np.uint64), np.uint64(0))))
                ids.append(i)
                sigs.append(v - (1 << 64) if v >= (1 << 63) else v)
            if not ids:
                continue
            yield pd.DataFrame({"id": pd.Series(ids), "sh": pd.array(sigs, dtype="int64")})

    return hashed.mapInPandas(sig, schema=f"id {id_type}, sh long")


def simhash_neardup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    strategy: str = "auto",
    multi_index_min_docs: int = 10_000_000,
) -> DataFrame:
    """Pairs whose SimHash Hamming distance <= max_hamming.

    COMPLETENESS CONTRACT: the result is exhaustive (every qualifying
    pair present) only for ``max_hamming <= 3``. With 4 chunks the
    pigeonhole argument needs d < 4; at d in 4..6 a pair can differ in
    every 16-bit chunk and is then never generated, so ``"chunk"`` with
    ``max_hamming > 3`` is an APPROXIMATE mode — recall is high in
    practice (gated >= 0.8 at d=6 in tests/test_dedup_similarity.py) but
    NOT guaranteed. For coarser matching with recall guarantees use
    ``minhash_neardup``, whose band-key space scales with the hash range.
    ``"multi_index"`` refuses ``max_hamming > 3`` outright (ValueError).

    Two candidate-generation strategies, stats-dispatched (``"auto"``
    probes ``df.count()`` — parquet metadata for file sources — same
    discipline as ``embedding_neardup`` / ``ngram_jaccard_pairs``):

    - ``"chunk"`` (small/medium corpora): block on 4 exact 16-bit chunks —
      pigeonhole guarantees any pair within Hamming<=3 shares one exact
      chunk. Cheapest emission (4 block rows/doc), but the key space is
      FIXED at 4 x 2^16, so expected bucket occupancy is n/65536 and
      same-bucket candidate pairs grow quadratically once n is well past
      ~10M docs (at n=1M occupancy ~15 — fine; at n=1B, ~15k/bucket —
      broken; the same defect class the r4 scale harness caught in the
      hyperplane LSH).
    - ``"multi_index"`` (the scale path past the knee): multi-index
      Hamming search (Norouzi, Punjani & Fleet, "Fast Search in Hamming
      Space with Multi-Index Hashing", CVPR'12) — split the signature
      into 2 chunks of 32 bits; pigeonhole over 2 chunks gives a
      per-chunk error budget of floor(max_hamming/2) <= 1 (for the
      supported max_hamming <= 3), so one side posts its EXACT 32-bit
      chunks (2 rows/doc) and the other enumerates the radius-1 Hamming
      BALL around each chunk (2 x 33 rows/doc, pure codegen XOR
      expressions). Ball symmetry (a in ball(b) <=> b in ball(a)) plus
      the ``id_a < id_b`` filter keeps every qualifying pair exactly
      once (``distinct`` collapses multi-chunk hits). The key space is
      2 x 2^32 — occupancy at n=1B is ~0.25 per (chunk, value) bucket
      vs ~15k for the 16-bit scheme, at a constant ~17x emission factor:
      the quadratic ceiling becomes a linear cost, measured in SCALE.md
      (shuffle exponent 1.00 at 100x->300x).

    Dispatch threshold: chunk's candidate-evaluation volume is
    ~n^2/32768 (4 chunks x 65536 buckets x occupancy^2/2) — ~122M evals
    at n=2M (trivial, and cheaper than multi-index's constant 17x
    emission), ~3B at n=10M, ~305B at n=100M. ``multi_index_min_docs``
    defaults to the 10M knee where that curve turns painful.

    Both strategies verify with ``bit_count(x.sh XOR y.sh)`` INSIDE the
    join condition: far pairs die in the join stage instead of riding
    the dedup exchange. ``multi_index`` requires ``max_hamming <= 3``
    (radius-2 balls would emit 529 variants/chunk; at that distance use
    minhash_neardup instead — enforced with a ValueError).
    """
    if strategy == "auto":
        strategy = (
            "multi_index"
            if max_hamming <= 3 and df.count() > multi_index_min_docs
            else "chunk"
        )
    if strategy not in ("chunk", "multi_index"):
        raise ValueError(f"simhash_neardup: unknown strategy {strategy!r}")
    if strategy == "multi_index" and max_hamming > 3:
        raise ValueError(
            "simhash_neardup(strategy='multi_index') supports max_hamming <= 3 "
            "(2 chunks x radius-1 balls); for coarser matching use "
            "minhash_neardup, whose band-key space scales with the hash range."
        )
    # materialize signatures once so the kernel (scan -> tokenize -> 64
    # bit sums) doesn't run per join side / per explode consumer
    sh = simhash_signatures(df, text_col, id_col).localCheckpoint(eager=True)
    hamming = F.bit_count(F.col("x.sh").bitwiseXOR(F.col("y.sh")))
    if strategy == "chunk":
        chunks = sh.select(
            "id",
            "sh",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("chunk_idx"),
                            F.shiftright("sh", i * 16)
                            .bitwiseAND(F.lit(0xFFFF))
                            .alias("chunk"),
                        )
                        for i in range(4)
                    ]
                )
            ).alias("c"),
        ).select("id", "sh", "c.chunk_idx", "c.chunk")
        x = chunks.alias("x")
        y = chunks.alias("y")
        cond = (
            (F.col("x.chunk_idx") == F.col("y.chunk_idx"))
            & (F.col("x.chunk") == F.col("y.chunk"))
            & (F.col("x.id") < F.col("y.id"))
            & (hamming <= max_hamming)
        )
    else:
        mask = F.lit((1 << 32) - 1).cast("bigint")

        def _chunk(i: int):
            # logical shift: the top chunk of a negative bigint must not
            # sign-fill
            return F.shiftrightunsigned("sh", i * 32).bitwiseAND(mask)

        exact = sh.select(
            "id",
            "sh",
            F.explode(
                F.array(
                    *[
                        F.struct(F.lit(i).alias("ci"), _chunk(i).alias("cv"))
                        for i in range(2)
                    ]
                )
            ).alias("c"),
        ).select("id", "sh", "c.ci", "c.cv")
        ball = sh.select(
            "id",
            "sh",
            F.explode(
                F.array(
                    *[
                        F.struct(F.lit(i).alias("ci"), v.alias("cv"))
                        for i in range(2)
                        for v in [
                            _chunk(i),
                            *[
                                _chunk(i).bitwiseXOR(F.lit(1 << j).cast("bigint"))
                                for j in range(32)
                            ],
                        ]
                    ]
                )
            ).alias("c"),
        ).select("id", "sh", "c.ci", "c.cv")
        x = exact.alias("x")
        y = ball.alias("y")
        cond = (
            (F.col("x.ci") == F.col("y.ci"))
            & (F.col("x.cv") == F.col("y.cv"))
            & (F.col("x.id") < F.col("y.id"))
            & (hamming <= max_hamming)
        )
    return (
        x.join(y, cond)
        .select(
            F.col("x.id").alias("id_a"),
            F.col("y.id").alias("id_b"),
            hamming.alias("hamming"),
        )
        .distinct()
    )


def sample_per_group(
    df: DataFrame,
    group_col: str,
    k: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic stratified sample: exactly min(k, |group|) rows per
    group, chosen by md5 order of the id — a stable pseudo-random order
    that any engine reproduces bit-for-bit (unlike TABLESAMPLE/rand(),
    whose RNG streams differ per engine/partitioning). One shuffle on the
    group key; the window's top-k never sorts more than each group."""
    w = Window.partitionBy(group_col).orderBy(
        F.md5(F.col(id_col).cast("string").cast("binary")), id_col
    )
    return (
        df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(group_col, id_col, "rn")
    )


def record_linkage(
    df: DataFrame,
    name_col: str,
    block_cols: list[str],
    max_distance: int = 2,
    id_col: str = "doc_id",
    max_block_rows: int | str | None = "auto",
    max_pair_factor: int = 32,
    auto_block_floor: int = 10_000,
) -> DataFrame:
    """Entity resolution over STRUCTURED records: candidate pairs from
    equality blocking, matched by Levenshtein edit distance — the
    record-linkage sibling of the text near-dup operators (those handle
    documents; this handles name/attribute fields like the reference's
    symbol/company tables).

    Scale shape: ONE shuffle on the block key; the quadratic is bounded
    by the largest block (pick ``block_cols`` accordingly — e.g. brand,
    nation, first-token; the standard blocking-key discipline). The edit
    distance runs INSIDE the join condition (JVM codegen — Spark and
    SQL engines agree on Levenshtein exactly), so rejected pairs are
    dropped before the output materializes. ``id_a < id_b``
    canonicalizes pairs.

    ``max_block_rows`` is the runaway-hot-block tripwire: one NULL-heavy
    or default-valued blocking key (the classic dirty-data failure) turns
    the bounded quadratic into a job-killing one silently — tasks just
    run for hours. A cheap pre-aggregation (one count per block, map-side
    combined, a single scalar action) checks the LARGEST block and raises
    loudly with the offending key instead of launching the join. ARMED BY
    DEFAULT (``"auto"``): the derived rule fires when the hottest block's
    projected pair volume ``worst_n^2/2`` exceeds ``max_pair_factor``
    times the input row count AND the block is past ``auto_block_floor``
    rows — the floor keeps small, legitimately-quadratic workloads (and
    unit fixtures) out of the net, so "auto" means *runaway*, not merely
    *skewed*. An ``int`` is an explicit hard cap on block rows; ``None``
    is the explicit opt-out (no probe job at all).

    Rows whose blocking key is NULL are EXCLUDED from the probe: the
    candidate join is an equality join, where NULL never matches NULL —
    a NULL-heavy key produces ZERO pairs, so counting it would raise a
    false refusal on exactly the inert rows (they silently drop out of
    the linkage, which is the standard blocking-key contract).
    """
    if max_block_rows is not None:
        stats = (
            df.na.drop(subset=list(block_cols))  # NULL blocks are join-inert
            .groupBy(*[F.col(c) for c in block_cols])
            .agg(F.count(F.lit(1)).alias("_n"))
            .agg(
                F.max("_n").alias("worst_n"),
                F.max_by(
                    F.struct(*[F.col(c) for c in block_cols]), F.col("_n")
                ).alias("worst_key"),
                F.sum("_n").alias("n_rows"),
            )
            .first()
        )
        worst_n = stats["worst_n"] or 0
        n_rows = stats["n_rows"] or 0
        if max_block_rows == "auto":
            runaway = (
                worst_n > auto_block_floor
                and worst_n * worst_n // 2 > max_pair_factor * n_rows
            )
            cap_desc = (
                f"auto: pairs > {max_pair_factor}x input rows ({n_rows:,}) "
                f"and block > {auto_block_floor:,} rows"
            )
        else:
            runaway = worst_n > max_block_rows
            cap_desc = f"max_block_rows={max_block_rows}"
        if runaway:
            key = stats["worst_key"].asDict()
            raise ValueError(
                f"record_linkage: hottest block {key} holds {worst_n} rows "
                f"({cap_desc}); its pair volume is ~{worst_n ** 2 // 2:,}. "
                "Refine block_cols (add a column, or prefilter the "
                "null/default key) instead of launching a runaway quadratic. "
                "Pass max_block_rows=None to explicitly opt out."
            )
    from global_stock_data_warehouse_spark.operators.skew import fan_scan

    # The banded-DP Levenshtein in the join condition is the CPU wall and
    # runs in the STREAM side's tasks (the build side broadcasts): floor
    # the stream side's parallelism at the core count so a single-file
    # input doesn't serialize the whole quadratic onto one task
    # (structural no-op at scale — see fan_scan).
    left = fan_scan(
        df.select(
            *[F.col(c).alias(f"b_{c}") for c in block_cols],
            F.col(id_col).alias("id_a"),
            F.col(name_col).alias("name_a"),
        )
    )
    right = df.select(
        *[F.col(c).alias(f"b_{c}") for c in block_cols],
        F.col(id_col).alias("id_b"),
        F.col(name_col).alias("name_b"),
    )
    # Thresholded Levenshtein (banded DP, O(d*n) per pair instead of
    # O(n^2), returns -1 above the bound) guarded by the free length-gap
    # prefilter |len(a)-len(b)| <= d — candidate pairs failing the cheap
    # conjunct never reach the DP (Java && short-circuits in codegen).
    len_gap_ok = (
        F.abs(F.length("name_a") - F.length("name_b")) <= max_distance
    )
    dist = F.levenshtein("name_a", "name_b", max_distance)
    cond = [left[f"b_{c}"] == right[f"b_{c}"] for c in block_cols]
    cond += [F.col("id_a") < F.col("id_b"), len_gap_ok, dist >= 0]
    return left.join(right, cond).select(
        "id_a", "id_b", "name_a", "name_b", dist.alias("distance")
    )


# ---------------------------------------------------------------------------
# incremental (cross-run) dedup against a fingerprint store
# ---------------------------------------------------------------------------


def fingerprint_store(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Build (or rebuild) the corpus fingerprint ledger: one row per
    distinct exact fingerprint with its canonical first keeper and
    multiplicity. Persist this small-per-byte frame (parquet, bucketed by
    ``fp``) between ingestion runs — it is the state that makes dedup
    *incremental*: day N+1 only ever joins its new batch against the
    ledger, never rescans the 100 TB corpus.

    Refresh after a batch is admitted by unioning the batch's kept
    fingerprints and re-aggregating (or, on a Delta-capable cluster,
    MERGE-ing new fps in — same contract as
    :func:`gsdw.operators.upsert.upsert_keyed`)."""
    return (
        df.select(F.col(id_col), fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).alias("first_id"), F.count(F.lit(1)).alias("n_seen"))
    )


def incremental_dedup(
    batch: DataFrame,
    store: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact-dedup a NEW ingestion batch against (a) an existing corpus
    fingerprint store and (b) itself, in one pass — the continuous-crawl
    shape of corpus building: yesterday's 100 TB is never rescanned, only
    the day's batch moves.

    Returns one verdict row per batch doc: ``(id_col, fp, dup_of_store,
    dup_in_batch, keep)`` where ``keep`` = not already in the store AND
    the min-id winner of its in-batch fingerprint group. Total function:
    every batch doc gets a verdict, so the caller can route keeps to the
    corpus, dups to an audit sink, and feed ``keep`` rows back into
    :func:`fingerprint_store`.

    Scale plan: the batch fingerprints once (map-only md5), the in-batch
    winner is a partition-wise window ``min`` over ``fp`` (one shuffle),
    and the store probe is a left join on the SAME key — Spark reuses the
    window's hash partitioning for the join's batch side, so the batch
    crosses the wire once no matter how many checks run. The store side
    shuffles only if it is not already bucketed by ``fp``; bucket the
    persisted ledger to make the daily probe a zero-shuffle-store join.
    Never broadcast the store (it grows with the corpus); AQE may
    broadcast the BATCH side when the day is small — the right call.
    """
    fp = batch.select(F.col(id_col), fingerprint(text_col).alias("fp"))
    first = F.min(id_col).over(Window.partitionBy("fp"))
    verdicts = fp.withColumn("first_in_batch", first)
    hit = store.select(F.col("fp"), F.lit(True).alias("_in_store"))
    joined = verdicts.join(hit, "fp", "left")
    dup_store = F.coalesce(F.col("_in_store"), F.lit(False))
    dup_batch = F.col(id_col) != F.col("first_in_batch")
    return joined.select(
        F.col(id_col),
        F.col("fp"),
        dup_store.alias("dup_of_store"),
        dup_batch.alias("dup_in_batch"),
        (~dup_store & ~dup_batch).alias("keep"),
    )


def _packed_signatures(
    df: DataFrame, text_col: str, id_col: str, num_hashes: int, ngram: int
) -> DataFrame:
    """(id, sig) with the signature packed as one array — the kernel-run
    boundary: everything downstream of this frame is cheap JVM array
    slicing, so a caller that needs the signatures more than once should
    checkpoint HERE (one kernel run) rather than any exploded frame."""
    sig = minhash_signatures(df, text_col, id_col, num_hashes, ngram)
    return sig.select(
        "id", F.array(*[F.col(f"mh{k}") for k in range(num_hashes)]).alias("sig")
    )


def _band_explode(packed: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(id, sig, band, bucket) from a packed-signature frame — the
    x``bands`` fan-out, pure codegen (xxhash64 over array slices)."""
    r = num_hashes // bands
    return packed.select(
        "id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.xxhash64(F.slice("sig", bi * r + 1, r)).alias("bucket"),
                    )
                    for bi in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(
        "id", "sig", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )


def _banded_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int,
    bands: int,
    ngram: int,
) -> DataFrame:
    """(id, sig, band, bucket) banded-LSH frame — the shared layout of
    the batch path (``minhash_neardup``) and the incremental store/probe
    pair below. Signatures are map-side (``minhash_signatures``); the
    band explode is the only fan-out (x``bands``). Docs with zero
    shingles emit no row."""
    return _band_explode(
        _packed_signatures(df, text_col, id_col, num_hashes, ngram),
        num_hashes,
        bands,
    )


def minhash_store(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    ngram: int = 2,
) -> DataFrame:
    """Build (or rebuild) the NEAR-dup ledger: the banded-LSH index
    ``(band, bucket, id, sig)`` of the admitted corpus — the MinHash
    sibling of :func:`fingerprint_store`. Persist it (parquet, bucketed
    by ``(band, bucket)``) between ingestion runs; day N+1 probes its
    batch against this frame and never re-signatures the standing corpus.
    ~``bands`` rows x (8B x ``num_hashes``) per doc: orders of magnitude
    under the raw text it replaces on the probe path.

    Refresh after a batch is admitted by appending the kept docs'
    banded rows (the index is append-only under keep-policy dedup; a
    doc's rows are a pure function of its text)."""
    return _banded_signatures(df, text_col, id_col, num_hashes, bands, ngram).select(
        "band", "bucket", "id", "sig"
    )


def incremental_minhash_dedup(
    batch: DataFrame,
    store: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    ngram: int = 2,
) -> DataFrame:
    """NEAR-dedup a new ingestion batch against (a) the standing corpus'
    :func:`minhash_store` ledger and (b) itself, in one pass — the
    continuous-crawl shape for FUZZY duplicates, complementing
    :func:`incremental_dedup`'s exact fingerprints (the reference's
    one-shot INSERT OR REPLACE world has no incremental-index notion;
    engine extension per SURVEY §6).

    Returns one verdict row per batch doc: ``(id_col, dup_of_store,
    store_match_id, store_jaccard, dup_in_batch, batch_match_id,
    batch_jaccard, keep)``. Jaccards are the MinHash estimate (fraction
    of matching signature positions — deterministic, hash-exact).
    ``dup_in_batch`` uses the GREEDY smaller-id-neighbor policy: a doc is
    a batch dup iff some SMALLER-id batch doc is near it (deterministic,
    single-pass; unlike component-min dedup it never drops a doc whose
    only link to the component is through a non-neighbor — for A~C, B~C,
    A!~B it keeps A and B and drops C). Docs with zero shingles (empty
    text) match nothing and are kept; route them to the exact path.

    Scale plan — the signature array (8B x ``num_hashes``) must cross
    the wire ONCE per doc at most, never once per band: the bucket joins
    (store probe + in-batch self-join) run on the NARROW ``(id, band,
    bucket)`` projection, pre-partitioned ONCE on ``(band, bucket)`` so
    both joins reuse the same exchange; candidate pairs are
    ``distinct``-ed (a doc pair colliding on k bands is one candidate,
    not k) and CHECKPOINT-COUNTED, and when they are bounded (the normal
    regime — candidates ~ dup density x batch) the candidate frame is
    BROADCAST through the two signature lookups, so the big signature
    frames are scanned map-side and never shuffle at all (a degenerate
    batch past the cap falls back to shuffled signature joins rather
    than OOMing the executors). Three formulations were measured at 300x
    on the scale harness: sig-inside-banded-rows 4786 MB, narrow-bucket
    + shuffled sig joins 1038 MB, this one 480 MB (exactly linear
    200x->300x; ~2/3 is the one b_band repartition, ~1/3 the store's
    bucket columns, which a (band,bucket)-bucketed ledger makes zero) —
    all with identical output. The store probe reads the ledger twice, both ways pruned at
    the scan: the bucket columns for the join (zero store-side shuffle
    when the ledger is bucketed by ``(band, bucket)``) and the
    ``band = 0`` slice as the by-id signature lookup (every doc has
    exactly one band-0 row). The full store is never broadcast (it grows
    with the corpus)."""
    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    # Guard against a ledger built with different parameters: a shorter/
    # longer stored sig would silently null-pad through zip_with and
    # deflate every jaccard estimate (missed dups, no error). Signature
    # LENGTH is checkable from one row (limit-1 scan, one row group);
    # bands/ngram mismatches are not encoded in the sig — they only
    # degrade bucket recall — so they remain a documented contract.
    probe = store.select(F.size("sig").alias("_n")).limit(1).collect()
    if probe and probe[0]["_n"] != num_hashes:
        raise ValueError(
            f"minhash store signature length {probe[0]['_n']} != "
            f"num_hashes={num_hashes}: the ledger was built with different "
            "parameters; rebuild it or probe with the store's parameters"
        )
    # Checkpoint at the PACKED level (r12): the signature kernel
    # (tokenize -> shingle hash -> numpy minhash) runs exactly ONCE for
    # the batch; b_sig IS that frame (band 0 of the explode is the packed
    # row) and b_band derives from it by pure codegen band-slicing —
    # formerly each checkpoint re-ran the kernel.
    b_sig = _packed_signatures(
        batch, text_col, id_col, num_hashes, ngram
    ).localCheckpoint(eager=True)
    spark = batch.sparkSession
    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    # b_band is deliberately NOT checkpointed (r13): its three readers
    # (store-bucket join, both sides of the in-batch self-join) sit inside
    # ONE candidate-building job below, where ReuseExchange dedupes the
    # identical (band, bucket) repartition — the former eager checkpoint
    # was a pure extra barrier (A/B: dropping it plus the candidate-union
    # consolidation measured 4.52 -> 4.08 s at sf0.1, identical output).
    b_band = (
        _band_explode(b_sig, num_hashes, bands)
        .select("id", "band", "bucket")
        .repartition(n_shuffle, "band", "bucket")
    )
    # broadcast cap for the candidate-pair frames: ~2M pairs x 16B = a
    # 32MB hash relation — comfortably executor-safe; beyond it (a
    # degenerate near-all-dup batch) the shuffled-join fallback is the
    # honest plan
    _CAND_BCAST_CAP = 2_000_000

    def est(a, bcol):
        matched = F.size(
            F.filter(F.zip_with(a, bcol, lambda x, y: x == y), lambda v: v)
        )
        return F.round(matched / F.lit(num_hashes), 6)

    # the half frame carries one signature per candidate (~300B/row), so
    # its broadcast cap is tighter than the bare-pair frame's
    _HALF_BCAST_CAP = 200_000

    s_sig = store.filter(F.col("band") == 0).select(
        F.col("id").alias("sid"), F.col("sig").alias("rsig")
    )
    # ONE candidate job (r13; guide §2.6): the store probe and the
    # in-batch self-join are independent plan branches, so unioning them
    # under a single tagged distinct + eager checkpoint replaces two
    # checkpoints and two count() jobs with one of each, and the
    # scheduler overlaps the two branches' stages inside the one job.
    # Per-tag distinct over the union == the two separate distincts.
    x, y = b_band.alias("x"), b_band.alias("y")
    cand = (
        b_band.join(
            store.select("band", "bucket", F.col("id").alias("sid")),
            ["band", "bucket"],
        )
        .select("id", F.col("sid").alias("other"), F.lit("s").alias("_t"))
        .unionByName(
            x.join(
                y,
                (F.col("x.band") == F.col("y.band"))
                & (F.col("x.bucket") == F.col("y.bucket"))
                & (F.col("x.id") < F.col("y.id")),
            ).select(
                F.col("y.id").alias("id"),
                F.col("x.id").alias("other"),
                F.lit("b").alias("_t"),
            )
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_by = {
        r["_t"]: r["n"]
        for r in cand.groupBy("_t").agg(F.count(F.lit(1)).alias("n")).collect()
    }

    def hits(tag, right_key, right_sig, match_col, score_col):
        """Attach both signatures to the tag's candidate pairs and
        aggregate per-doc verdicts. ``cand`` is checkpointed; when
        bounded, the slice is broadcast so the signature frames never
        shuffle."""
        n_cand = n_by.get(tag, 0)
        c0 = cand.filter(F.col("_t") == tag).select(
            "id", F.col("other").alias(right_key)
        )
        c = F.broadcast(c0) if n_cand <= _CAND_BCAST_CAP else c0
        half = b_sig.join(c, "id")  # (id, sig, right_key) — |cand| rows out
        h = F.broadcast(half) if n_cand <= _HALF_BCAST_CAP else half
        return (
            right_sig.join(h, right_key)
            .select(
                "id",
                F.col(right_key),
                est(F.col("sig"), F.col("rsig")).alias("est"),
            )
            .filter(F.col("est") >= threshold)
            .groupBy("id")
            .agg(
                F.max("est").alias(score_col),
                F.expr(
                    f"min_by({right_key}, struct(-est, {right_key}))"
                ).alias(match_col),
            )
        )

    store_hits = hits("s", "sid", s_sig, "store_match_id", "store_jaccard")
    n_sig = b_sig.select(F.col("id").alias("nid"), F.col("sig").alias("rsig"))
    batch_hits = hits("b", "nid", n_sig, "batch_match_id", "batch_jaccard")
    spine = batch.select(F.col(id_col).alias("id"))
    out = spine.join(store_hits, "id", "left").join(batch_hits, "id", "left")
    return out.select(
        F.col("id").alias(id_col),
        F.col("store_match_id").isNotNull().alias("dup_of_store"),
        "store_match_id",
        "store_jaccard",
        F.col("batch_match_id").isNotNull().alias("dup_in_batch"),
        "batch_match_id",
        "batch_jaccard",
        (F.col("store_match_id").isNull() & F.col("batch_match_id").isNull()).alias(
            "keep"
        ),
    )
