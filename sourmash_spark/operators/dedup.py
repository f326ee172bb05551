"""Deduplication operators for a training-data pipeline over `documents`.

Each operator is a pure DataFrame plan; every one has a DuckDB oracle in
``__spark_entry__.oracle_sql`` at the matching key.  Scale notes inline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
import pyspark.sql.functions as F

from . import docops, kernels
from .compare import DEFAULT_DF_CAP


def exact_dedup_ids(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document exact-duplicate marking — the SCALE form of exact
    dedup: (id, content_md5, canonical_id, n_copies, is_canonical), one
    row per input document, no arrays anywhere.

    Why this exists next to `exact_dedup`: a code corpus has mega
    duplicate groups (empty __init__.py, license boilerplate) whose
    membership at 10^12 files runs to billions; `collect_list`-ing such a
    group builds one multi-GB array row on one reducer, which no salting
    can split *at the output*.  Here the group stays as rows: a count/min
    aggregate (map-side combined, so the hot key arrives pre-reduced) plus
    an equi-join back on content_md5 — and a skewed equi-join is exactly
    what AQE skew-join splitting handles (the aggregate side of the hot
    key is one row, replicated to each split).  Filter
    ``~is_canonical`` for the drop set; `exact_dedup` remains the
    group-level report for bounded group sizes."""
    h = docs.select(
        F.col(id_col), F.md5(F.col(text_col)).alias("content_md5")
    )
    groups = h.groupBy("content_md5").agg(
        F.min(id_col).alias("canonical_id"),
        F.count("*").alias("n_copies"),
    )
    return h.join(groups, "content_md5").select(
        id_col,
        "content_md5",
        "canonical_id",
        "n_copies",
        (F.col(id_col) == F.col("canonical_id")).alias("is_canonical"),
    )


def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact duplicates by content hash: one shuffle on md5(text) with
    map-side combine.  Emits (canonical_id, n_copies, dup_ids) per duplicate
    group (groups of one excluded).

    Scale note: the per-group `dup_ids` array bounds this to corpora whose
    largest duplicate group fits one row comfortably; past that (mega
    boilerplate groups in web-scale code) use `exact_dedup_ids`, which
    keeps groups as rows."""
    return (
        docs.select(F.col(id_col), F.md5(F.col(text_col)).alias("content_md5"))
        .groupBy("content_md5")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count("*").alias("n_copies"),
            F.array_sort(F.collect_list(id_col)).alias("dup_ids"),
        )
        .filter(F.col("n_copies") > 1)
        .select("content_md5", "canonical_id", "n_copies", "dup_ids")
    )


def minhash_sketch60(
    docs: DataFrame,
    k: int = 12,
    scaled: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """FracMinHash sketch with the SQL-portable hash60 (docops): per doc the
    sorted distinct kept hashes.  Same algebra as the murmur engine; exists
    so document-level dedup has a cross-engine oracle.  Narrow map + one
    per-doc aggregation."""
    mh = docops.max_hash60(scaled)
    sh = docs.select(
        F.col(id_col),
        F.explode(docops.char_shingles(F.col(text_col), k)).alias("shingle"),
    ).distinct()
    kept = sh.select(
        id_col, docops.hash60(F.col("shingle")).alias("hashval")
    ).filter(F.col("hashval") <= mh)
    agg = kept.groupBy(id_col).agg(
        F.array_sort(F.collect_set("hashval")).alias("hashes"),
        F.count("*").alias("n_hashes"),
    )
    return (
        docs.select(id_col)
        .join(agg, id_col, "left")
        .select(
            id_col,
            F.coalesce("hashes", F.array().cast("array<long>")).alias("hashes"),
            F.coalesce("n_hashes", F.lit(0)).cast("long").alias("n_hashes"),
        )
    )


def minhash_pairs60(
    sketches: DataFrame,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    df_cap: int = DEFAULT_DF_CAP,
    n_docs: int | None = None,
) -> DataFrame:
    """All-pairs jaccard over hash60 sketches: `compare.compare_all_pairs`
    in jaccard mode, ids as (id_a, id_b).  `df_cap` and `n_docs` are its
    `df_cap` and `n_sigs` (capped jaccard lower-bounds true jaccard; with
    df_cap on and n_docs None, building the plan runs a small count at
    CALL time)."""
    from .compare import compare_all_pairs

    return compare_all_pairs(
        sketches, sig_id=id_col, threshold=threshold, mode="jaccard",
        df_cap=df_cap, n_sigs=n_docs,
    ).withColumnsRenamed({"sig_id_a": "id_a", "sig_id_b": "id_b"})


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.3,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_grams: bool = True,
    df_cap: int = DEFAULT_DF_CAP,
    n_docs: int | None = None,
) -> DataFrame:
    """Exact word-n-gram jaccard near-dup pairs via inverted-index join.

    `hash_grams=True` (default, the scale path) joins on xxhash64 of the
    gram — 8 bytes through the shuffle instead of the full string; a
    collision would need two distinct grams with equal 64-bit hashes
    inside the same pair (negligible).  `hash_grams=False` joins on the
    raw string (the cross-engine-checkable exactness baseline).

    `df_cap` (default DEFAULT_DF_CAP, 0 disables) drops grams present in
    more than df_cap docs from the JOIN ONLY — per-doc gram counts stay
    full, so capped jaccard lower-bounds true jaccard (a boilerplate gram
    never creates O(df^2) pair rows nor inflates similarity).

    EAGERNESS: with df_cap on and n_docs None, building this plan runs a
    small count (and possibly the cap_postings size probe) at CALL time;
    lazy plan-composition callers pass n_docs or df_cap=0."""
    from .compare import shared_key_pairs

    # per-doc gram count rides the explode as a struct field — no separate
    # count aggregation, no sizes join.  let-binding is load-bearing:
    # HOF expressions are excluded from Spark CSE AND CollapseProject
    # re-inlines adjacent projections, so a naive size(arr)+explode(arr)
    # re-evaluates the gram array per output row (measured 15x slower);
    # binding it as a lambda variable evaluates it once per document.
    arr = F.array_distinct(docops.word_ngrams(F.col(text_col), n))
    kv = docops.let(
        arr,
        lambda a: F.transform(
            a,
            lambda x: F.struct(
                x.alias("gram"), F.size(a).cast("long").alias("n_grams")
            ),
        ),
    )
    grams = docs.select(
        F.col(id_col), F.explode(kv).alias("_kv")
    ).select(id_col, F.col("_kv.n_grams").alias("n_grams"),
             F.col("_kv.gram").alias("gram"))
    if hash_grams:
        grams = grams.select(
            id_col, "n_grams", F.xxhash64("gram").alias("gram")
        )
    if df_cap and n_docs is None:
        n_docs = docs.count()  # narrow; proves the cap a no-op when small
    pairs = shared_key_pairs(
        grams, ["gram"], id_col, df_cap, n_ids=n_docs, size_col="n_grams"
    ).withColumnRenamed("n_shared", "shared")
    jaccard = kernels.jaccard_from_counts(
        F.col("shared"), F.col("size_a"), F.col("size_b")
    )
    return (
        pairs.withColumn("jaccard", jaccard)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "shared", "jaccard")
    )


def lsh_bands60(
    sketches: DataFrame,
    num_bands: int = 8,
    band_size: int = 2,
    space: int = docops.HASH60_SPACE,
    id_col: str = "doc_id",
) -> DataFrame:
    """OPH band keys over hash60 sketches — the SQL-portable twin of
    operators.lsh.band_signatures: the same `range_min_bands` over
    [0, space], keyed by hash60 of the comma-joined range minima instead
    of xxhash64.  Emits (doc_id, band_idx, band_key)."""
    from .lsh import range_min_bands

    return range_min_bands(
        sketches, num_bands, band_size, space // (num_bands * band_size) + 1,
        lambda _, vals: docops.hash60(vals), id_col,
    )


SIMHASH_BITS = 60
_TILE = 512  # all-pairs tile edge: one tile scores _TILE**2 pairs


def simhash(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """60-bit SimHash over word tokens: bit b is the majority vote
    (2 * ones >= n_toks) of bit b across the token hash60s.  Documents
    with no token are dropped; rows sharing an id merge their tokens (the
    oracle's GROUP BY doc_id, a NULL id included).

    Tokenizing stays in the JVM (`docops.words`: Java `lower`, `\\s+`);
    one shuffle groups the token arrays per id; one mapInArrow kernel
    hashes each distinct token of the batch (`docops.hash60_py`) and
    counts the 60 bit votes in numpy.  The id column passes through as
    Arrow, never through a pandas dtype."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    def kernel(batches):
        for rb in batches:
            if not rb.num_rows:
                continue
            words = rb.column("_w")
            n = pc.list_value_length(words).to_numpy().astype(np.int64)
            toks = pc.list_flatten(words)
            vocab = pc.unique(toks)
            hv = np.fromiter(
                map(docops.hash60_py, vocab.to_pylist()), np.int64, len(vocab)
            )
            h = hv[pc.index_in(toks, vocab).to_numpy()]
            starts = np.cumsum(n) - n
            sim = np.zeros(len(n), np.int64)
            for b in range(SIMHASH_BITS):
                ones = np.add.reduceat((h >> b) & 1, starts)
                sim |= (2 * ones >= n).astype(np.int64) << b
            yield pa.RecordBatch.from_arrays(
                [rb.column(id_col), pa.array(sim), pa.array(n)],
                names=[id_col, "simhash", "n_toks"],
            )

    id_type = docs.schema[id_col].dataType.simpleString()
    return (
        docs.select(F.col(id_col), docops.words(F.col(text_col)).alias("_w"))
        .filter(F.size("_w") > 0)
        .groupBy(id_col)
        .agg(F.flatten(F.collect_list("_w")).alias("_w"))
        .mapInArrow(kernel, f"{id_col} {id_type}, simhash long, n_toks long")
    )


def simhash_pairs(
    sims: DataFrame,
    max_hamming: int = 8,
    id_col: str = "doc_id",
    block_pairs: bool = False,
    stats: dict | None = None,
) -> DataFrame:
    """Near-dup pairs (id_a, id_b, hamming), id_a < id_b, within
    `max_hamming` bits of exact bit_count(xor); rows with a NULL id or
    simhash pair with nothing.

    Default plan ("tiled"): (id, simhash) collected sorted by id and
    broadcast; `spark.range(n_tiles).mapInPandas` scores upper-triangle
    tiles of _TILE x _TILE pairs with a numpy popcount — N(N-1)/2 pairs,
    a fixed amount of work per task, no hot key; ~13 ns per pair on 4
    cores.  At h=12 the single-chunk pigeonhole join it replaced read more
    rows than that (Σ c(c-1)/2 over its 4.6-bit chunk keys was 1.2x
    N(N-1)/2 at sf1) at ~125-185 ns per row (sourmash_spark/plans/PLANS.md).

    `block_pairs=True` ("block_join", the HmSearch trade): an index join
    whose cost is its join size, not N² — faster only when that size is
    far below N(N-1)/2 (sf1: h=3 wins 4.3 s to 16.6 s, h=5 loses 25.6 s
    to 16.2 s).  (max_hamming+2) chunks of the 60 bits keyed in PAIRS:
    h differing bits leave >= 2 chunks untouched, so every true pair
    shares a key.

    `stats` (a dict, filled at call time) receives n, all_pairs
    (N(N-1)/2), plan and join_rows: 0 for "tiled"; for "block_join"
    Σ c(c-1)/2 over its keys (c = ids per key; the rows the self-join
    emits), from one aggregate that runs only when `stats` is passed."""
    if not block_pairs:
        return _tiled_pairs(sims, max_hamming, id_col, stats)
    n_chunks = max_hamming + 2
    if n_chunks > SIMHASH_BITS:
        raise ValueError(
            f"max_hamming {max_hamming} needs {n_chunks} non-empty chunks "
            f"over {SIMHASH_BITS} bits"
        )
    # distribute the 60 bits EVENLY (first `rem` chunks one bit wider): a
    # fixed width leaves trailing all-zero chunks that (a) degenerate into
    # one bucket holding every row and (b) push shift distances past 63,
    # where JVM long shifts silently wrap mod 64
    base, rem = divmod(SIMHASH_BITS, n_chunks)
    offsets, widths, off = [], [], 0
    for i in range(n_chunks):
        w = base + (1 if i < rem else 0)
        offsets.append(off)
        widths.append(w)
        off += w

    def _chunk(col, i):
        return F.shiftrightunsigned(col, offsets[i]).bitwiseAND(
            F.lit((1 << widths[i]) - 1)
        )

    key_pairs = [
        (i, j) for i in range(n_chunks) for j in range(i + 1, n_chunks)
    ]
    keyed = F.array(
        *[
            F.struct(
                F.lit(i * n_chunks + j).alias("k"),
                (
                    _chunk(F.col("simhash"), i) * F.lit(1 << widths[j])
                    + _chunk(F.col("simhash"), j)
                ).alias("v"),
            )
            for i, j in key_pairs
        ]
    )
    chunks = sims.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(keyed).alias("kv"),
    ).select(
        id_col, "simhash",
        F.col("kv.k").alias("chunk_idx"),
        F.col("kv.v").alias("chunk_val"),
    )
    if stats is not None:
        c = F.col("count")
        deg = (
            chunks.groupBy("chunk_idx", "chunk_val").count()
            .agg(F.sum(c * (c - 1)).alias("s2"), F.sum(c).alias("rows"))
            .first()
        )
        n = (deg["rows"] or 0) // len(key_pairs)
        stats.update(
            join_rows=(deg["s2"] or 0) // 2, n=n, all_pairs=n * (n - 1) // 2,
            plan="block_join",
        )
    spark = sims.sparkSession
    # both join sides reuse this one exchange, so `sims` is evaluated once;
    # an explicit count: an AQE-coalesced tiny exchange would also
    # serialize the pair join that reuses it
    chunks = chunks.repartition(
        int(spark.conf.get("spark.sql.shuffle.partitions")),
        "chunk_idx", "chunk_val",
    )
    a = chunks.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("sim_a"),
        "chunk_idx", "chunk_val",
    )
    b = chunks.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("sim_b"),
        "chunk_idx", "chunk_val",
    )
    # dedup by construction instead of distinct(): a pair that shares k
    # chunk keys matches the join k times; keeping only the row whose
    # joined key is the FIRST key the two simhashes share emits each pair
    # exactly once, so the distinct exchange (a full shuffle of the
    # near-dup pair set at scale) disappears (guide §2.4).  The predicate
    # recomputes the per-key chunk equality from the already-carried
    # sim_a/sim_b bit columns and runs only on rows that survived the
    # hamming filter, so it costs a few shifts on the tiny surviving set.
    firsts = [
        F.when(
            (_chunk(F.col("sim_a"), i) == _chunk(F.col("sim_b"), i))
            & (_chunk(F.col("sim_a"), j) == _chunk(F.col("sim_b"), j)),
            F.lit(i * n_chunks + j),
        )
        for i, j in key_pairs
    ]
    first_shared = firsts[0] if len(firsts) == 1 else F.least(*firsts)
    return (
        a.join(b, ["chunk_idx", "chunk_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "hamming",
            F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))),
        )
        # hamming first: it is the selective predicate; the first-shared
        # dedup then runs on the survivors only
        .filter(F.col("hamming") <= max_hamming)
        .filter(first_shared == F.col("chunk_idx"))
        .select("id_a", "id_b", "hamming")
    )


def _tiled_pairs(
    sims: DataFrame, max_hamming: int, id_col: str, stats: dict | None
) -> DataFrame:
    """simhash_pairs' tiled plan.  Ids are sorted, so the one predicate
    id_a < id_b drops the lower half of the diagonal tiles and equal ids.
    NULL ids are filtered before the collect (a NULL would turn the id
    column into float64 and round ids above 2^53)."""
    import numpy as np
    import pandas as pd

    spark = sims.sparkSession
    pdf = (
        sims.select(id_col, "simhash")
        .filter(F.col(id_col).isNotNull() & F.col("simhash").isNotNull())
        .toPandas()
        .sort_values(id_col, kind="stable")
    )
    ids = pdf[id_col].to_numpy()
    vals = pdf["simhash"].to_numpy(np.int64).view(np.uint64)
    if stats is not None:
        n = len(ids)
        stats.update(
            join_rows=0, n=n, all_pairs=n * (n - 1) // 2, plan="tiled"
        )
    rows, cols = np.triu_indices(-(-len(ids) // _TILE))  # tile t's blocks
    bc = spark.sparkContext.broadcast((ids, vals, rows, cols))

    def kernel(batches):
        ids, vals, rows, cols = bc.value
        pop16 = (
            np.unpackbits(np.arange(1 << 16, dtype="<u2").view(np.uint8))
            .reshape(-1, 16).sum(axis=1, dtype=np.uint8)
        )
        for tiles in batches:
            for t in tiles["id"].to_numpy():
                a = slice(rows[t] * _TILE, (rows[t] + 1) * _TILE)
                b = slice(cols[t] * _TILE, (cols[t] + 1) * _TILE)
                x = vals[a, None] ^ vals[None, b]
                d = pop16[x.view(np.uint16)].reshape(*x.shape, 4).sum(
                    axis=2, dtype=np.uint8
                )
                ia, ib = np.nonzero(
                    (d <= max_hamming) & (ids[a, None] < ids[None, b])
                )
                yield pd.DataFrame({
                    "id_a": ids[a][ia], "id_b": ids[b][ib],
                    "hamming": d[ia, ib].astype(np.int32),
                })

    n_tiles = len(rows)
    id_type = sims.schema[id_col].dataType.simpleString()
    return spark.range(
        0, n_tiles, 1,
        max(1, min(n_tiles, spark.sparkContext.defaultParallelism)),
    ).mapInPandas(kernel, f"id_a {id_type}, id_b {id_type}, hamming int")


def embedding_neardup_pairs(
    embs: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs — brute-force O(N^2) BASELINE.
    Tiny-N parity/recall-reference only: the verified scale path is
    operators.ann.embedding_neardup_lsh (T plane tables, bucket equi-join,
    within-bucket exact verify), which this function exists to referee."""
    a = embs.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = embs.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cosine",
            F.round(docops.cosine_similarity(F.col("va"), F.col("vb")), 6),
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def _winnow_fp_postings(
    docs: DataFrame,
    k: int,
    window: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> tuple[DataFrame, DataFrame]:
    """(grams, fps): every k-gram position with its hash60, and the distinct
    winnowing-selected fingerprints per doc (min hash of each sliding window
    of `window` consecutive gram hashes — Schleimer et al.'s scheme, the
    same selection text.winnow_fingerprints counts).  Fingerprint selection
    is a pure column expression (docops.winnow_mins) — no shuffle; the only
    exchanges in the dedup plans are the fingerprint equi-joins."""
    grams = docs.select(
        F.col(id_col),
        F.posexplode(docops.char_shingles(F.col(text_col), k)).alias(
            "pos", "gram"
        ),
    ).select(id_col, "pos", docops.hash60(F.col("gram")).alias("h"))
    fps = docs.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(
                docops.winnow_mins(F.col(text_col), k, window)
            )
        ).alias("fp"),
    )
    return grams, fps


def substring_dup_pairs(
    docs: DataFrame,
    min_len: int = 40,
    k: int = 24,
    min_shared: int = 1,
    df_cap: int = DEFAULT_DF_CAP,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_docs: int | None = None,
) -> DataFrame:
    """Duplicated-substring pairs — the scalable stand-in for suffix-array
    substring dedup (Lee et al. 2022 find repeated spans with a suffix
    array; a distributed suffix array is not a Spark-shaped object).

    Winnowing guarantee (MOSS): two documents sharing a literal substring
    of length >= k + window - 1 == `min_len` share at least one selected
    fingerprint, so recall at min_len is 1 (up to hash60 collisions,
    ~2^-60).  Plan: per-doc fingerprint selection is a window function
    (one shuffle on doc_id), candidates are an inverted-index equi-join on
    the fingerprint with the df-cap boilerplate guard — never all-pairs.

    Output: (id_a, id_b, n_shared_fps) with >= min_shared shared
    fingerprints."""
    window = min_len - k + 1
    if window < 1:
        raise ValueError(f"min_len ({min_len}) must be >= k ({k})")
    from .compare import shared_key_pairs

    if df_cap and n_docs is None:
        n_docs = docs.count()
    _, fps = _winnow_fp_postings(docs, k, window, id_col, text_col)
    return (
        shared_key_pairs(fps, ["fp"], id_col, df_cap, n_ids=n_docs)
        .withColumnRenamed("n_shared", "n_shared_fps")
        .filter(F.col("n_shared_fps") >= min_shared)
    )


def substring_dup_spans(
    docs: DataFrame,
    min_len: int = 40,
    k: int = 24,
    df_cap: int = DEFAULT_DF_CAP,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document duplicated spans for masking/removal: every k-gram
    occurrence (doc_id, pos, length=k) whose hash is a winnowing
    fingerprint selected in >= 2 distinct documents — i.e. literal text
    shared across documents, located.  The removal-side complement of
    `substring_dup_pairs` (what `dedup_exact` is to near-dup)."""
    window = min_len - k + 1
    if window < 1:
        raise ValueError(f"min_len ({min_len}) must be >= k ({k})")
    grams, fps = _winnow_fp_postings(docs, k, window, id_col, text_col)
    shared = (
        fps.groupBy("fp")
        .agg(F.countDistinct(id_col).alias("nd"))
        .filter(F.col("nd") >= 2)
    )
    if df_cap:
        shared = shared.filter(F.col("nd") <= df_cap)
    return (
        grams.join(shared.select(F.col("fp").alias("h")), "h")
        .select(
            id_col,
            (F.col("pos") + 1).cast("long").alias("pos"),
            F.lit(k).cast("int").alias("length"),
        )
    )


def repeated_segment_removal(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    delimiter: str = "\n",
    min_df: int = 2,
    segments_col: str | None = None,
    hash_segments: bool = True,
) -> DataFrame:
    """CCNet/RefinedWeb-style repeated-segment removal: drop every segment
    (line / paragraph / caller-defined chunk) whose EXACT content occurs in
    at least `min_df` distinct documents, keep the rest in original order,
    and reconstruct the text (all copies are removed, matching CCNet's
    corpus-level line dedup — boilerplate navigation/footer lines carry no
    training signal in any copy).

    Input is either free text split on `delimiter`, or — when the corpus
    has no newline structure — a precomputed `segments_col`
    (array<string>, e.g. fixed-width word chunks).

    `hash_segments=True` (the scale path) shuffles 8-byte xxhash64 keys
    instead of segment strings; a collision needs two distinct segments
    with equal 64-bit hashes (negligible, same argument as
    ngram_jaccard_pairs).  False keeps raw strings (the cross-engine
    exactness baseline).

    Plan shape (scales like every other inverted-index op here):
    one groupBy on segment key (map-side-combined countDistinct) for the
    repeated set, a join back on the key (AQE picks broadcast when the
    repeated set is small, which it is outside boilerplate-storms), and
    one groupBy(doc) to reassemble.  n_segments rides the narrow scan —
    never a second pass.

    Output: (id_col, n_segments, n_removed, text_deduped).
    """
    segs_arr = (
        F.col(segments_col)
        if segments_col
        else F.split(F.col(text_col), delimiter)
    )
    segs = docs.select(
        F.col(id_col), F.posexplode(segs_arr).alias("pos", "seg")
    )
    key = F.xxhash64("seg") if hash_segments else F.col("seg")
    segs = segs.select(id_col, "pos", "seg", key.alias("_k"))
    # empty segments are structure, not content: they never join the
    # repeated set (else two fully-emptied docs would share '' and the
    # operator would lose its fixed point — see test_removal_is_idempotent)
    repeated = (
        segs.filter(F.col("seg") != "")
        .groupBy("_k")
        .agg(F.countDistinct(id_col).alias("_df"))
        .filter(F.col("_df") >= min_df)
        .select("_k")
    )
    kept = segs.join(repeated, "_k", "left_anti")
    kept_agg = kept.groupBy(id_col).agg(
        F.count("*").alias("_n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("pos"), F.col("seg")))
                ),
                lambda s: s["seg"],
            ),
            delimiter,
        ).alias("text_deduped"),
    )
    base = docs.select(
        F.col(id_col),
        F.size(segs_arr).cast("long").alias("n_segments"),
    )
    return base.join(kept_agg, id_col, "left").select(
        id_col,
        "n_segments",
        (F.col("n_segments") - F.coalesce("_n_kept", F.lit(0)))
        .cast("long")
        .alias("n_removed"),
        F.coalesce("text_deduped", F.lit("")).alias("text_deduped"),
    )


_WINDOW_CHUNK = 1 << 16  # gram windows a kernel hashes and looks up at a time


def _ipc(table) -> bytes:
    import pyarrow as pa

    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, table.schema) as w:
        w.write_table(table)
    return sink.getvalue().to_pybytes()


def _unipc(buf):
    import pyarrow as pa

    return pa.ipc.open_stream(buf).read_all()


def _distinct_keys(t):
    """One row per distinct `_k` of the Arrow table `t` (columns `_k`,
    `_c` and any of `_b`, `_id`, `_pos`): `_c` summed and clipped at 2,
    and the smallest (`_id`, `_pos`), NULL ids first as Spark orders
    them."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    if not t.num_rows:
        return t
    k = t.column("_k").combine_chunks()
    ints = pa.types.is_integer(k.type)
    if ints and "_id" not in t.column_names:
        order = np.argsort(k.to_numpy())  # 3x Arrow's multi-key sort
    else:
        order = pc.sort_indices(
            t,
            sort_keys=[
                (c, "ascending") for c in ("_k", "_id", "_pos")
                if c in t.column_names
            ],
            null_placement="at_start",
        )
    t = t.take(order)
    k = t.column("_k").combine_chunks()
    new = np.ones(len(k), bool)
    if ints:
        kn = k.to_numpy()
        new[1:] = kn[1:] != kn[:-1]
    else:
        new[1:] = pc.not_equal(k[1:], k[:-1]).to_numpy(zero_copy_only=False)
    starts = np.flatnonzero(new)
    c = np.add.reduceat(t.column("_c").to_numpy().astype(np.int64), starts)
    t = t.take(pa.array(starts))
    return t.set_column(
        t.column_names.index("_c"), "_c",
        pa.array(np.minimum(c, 2).astype(np.int8)),
    )


def _partition_keys(P: int):
    """int32 `_b` values, one per partition p < P, that Spark's hash
    partitioning (pmod of Murmur3 hashInt, seed 42) sends to partition p,
    so `repartition(P, "_b")` puts bucket p alone in partition p; P
    buckets hashed as themselves would share partitions unevenly."""
    import numpy as np

    n = 8 * P
    while True:
        v = np.arange(n, dtype=np.uint32)
        with np.errstate(over="ignore"):
            k = v * np.uint32(0xCC9E2D51)
            k = ((k << np.uint32(15)) | (k >> np.uint32(17))) * np.uint32(
                0x1B873593
            )
            h = np.uint32(42) ^ k
            h = ((h << np.uint32(13)) | (h >> np.uint32(19))) * np.uint32(
                5
            ) + np.uint32(0xE6546B64)
            h ^= np.uint32(4)
            h ^= h >> np.uint32(16)
            h *= np.uint32(0x85EBCA6B)
            h ^= h >> np.uint32(13)
            h *= np.uint32(0xC2B2AE35)
            h ^= h >> np.uint32(16)
        part = np.mod(h.view(np.int32).astype(np.int64), P)
        found, first = np.unique(part, return_index=True)
        if len(found) == P:
            return v[first].astype(np.int32)
        n *= 2


def _gram_counts(
    docs: DataFrame, L: int, text_col: str, hash_grams: bool,
    id_col: str | None = None,
) -> DataFrame:
    """(_b int, _p binary): one row per (Arrow batch, bucket), where the
    bucket is the window's xxhash64 mod `spark.sql.shuffle.partitions`
    (P; `_b` is its `_partition_keys` value) and `_p` is an Arrow IPC
    table of the bucket's distinct gram keys `_k` (the xxhash64, or the
    gram's bytes) with their counts `_c` clipped at 2 and, given
    `id_col`, each key's first (`_id`, `_pos`).  A gram repeated
    throughout the corpus is one entry per batch."""
    P = int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    part_key = _partition_keys(P)
    chunk = _WINDOW_CHUNK

    def kernel(batches):
        import numpy as np
        import pyarrow as pa

        for rb in batches:
            lay = docops.utf8_rows(rb.column(0))
            parts = []
            for row, j, start, nb in docops.gram_windows(lay, L, chunk):
                h = docops.gram_hashes(lay[0], start, nb)
                cols = {
                    "_b": pa.array((h.view(np.uint64) % P).astype(np.int32)),
                    "_k": pa.array(h) if hash_grams
                    else docops.gram_bytes(lay[0], start, nb),
                    "_c": pa.array(np.ones(len(h), np.int8)),
                }
                if id_col is not None:
                    cols["_id"] = rb.column(1).take(pa.array(row))
                    cols["_pos"] = pa.array(j - lay[3][row] + 1)
                parts.append(_distinct_keys(pa.table(cols)))
            if not parts:
                continue
            t = _distinct_keys(pa.concat_tables(parts))
            t = t.take(np.argsort(t.column("_b").to_numpy(), kind="stable"))
            b = t.column("_b").to_numpy()
            cut = np.flatnonzero(np.diff(b)) + 1
            lo = np.concatenate(([0], cut))
            hi = np.concatenate((cut, [len(b)]))
            body = t.drop_columns(["_b"])
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(part_key[b[lo]]),
                    pa.array(
                        [_ipc(body.slice(x, y - x)) for x, y in zip(lo, hi)],
                        pa.binary(),
                    ),
                ],
                names=["_b", "_p"],
            )

    cols = [text_col] + ([id_col] if id_col is not None else [])
    return docs.select(*cols).mapInArrow(kernel, "_b int, _p binary")


def _merged_keys(
    counts: DataFrame, min_count: int, key_type: str | None = None
) -> DataFrame:
    """The keys of `_gram_counts` rows counted at least `min_count` (1 or
    2) times corpus-wide: one shuffle of the bucket rows on `_b`, then
    one merge per partition.  With `key_type` ("long", or "string" for
    gram bytes) one `_k` row per key; otherwise one row per partition,
    (_n keys, _bytes, _p): `_p` is the IPC table of its keys (and first
    occurrences), NULL when `_bytes` alone is over the broadcast bound."""
    import pyarrow as pa

    spark = counts.sparkSession
    P = int(spark.conf.get("spark.sql.shuffle.partitions"))
    limit = _broadcast_limit(spark)

    def kernel(batches):
        import pyarrow.compute as pc

        parts = [
            _unipc(p.as_buffer()) for rb in batches for p in rb.column("_p")
        ]
        if not parts:
            return
        t = _distinct_keys(pa.concat_tables(parts))
        t = t.filter(pc.greater_equal(t.column("_c"), min_count))
        t = t.drop_columns(["_c"])
        if key_type is not None:
            k = t.column("_k").combine_chunks()
            yield pa.RecordBatch.from_arrays(
                [k if key_type == "long" else k.cast(pa.string())],
                names=["_k"],
            )
            return
        p = _ipc(t)
        yield pa.RecordBatch.from_arrays(
            [
                pa.array([t.num_rows], pa.int64()),
                pa.array([len(p)], pa.int64()),
                pa.array([p if len(p) <= limit else None], pa.binary()),
            ],
            names=["_n", "_bytes", "_p"],
        )

    schema = (
        f"_k {key_type}" if key_type else "_n long, _bytes long, _p binary"
    )
    return counts.repartition(P, "_b").mapInArrow(kernel, schema)


def _broadcast_limit(spark) -> int:
    """The session's `spark.sql.autoBroadcastJoinThreshold` in bytes, 0
    when it is negative (broadcasts off)."""
    conf = spark._jsparkSession.sessionState().conf()
    return max(int(conf.autoBroadcastJoinThreshold()), 0)


def _broadcast_keys(spark, table, n: int, nbytes: int, what: str):
    """Broadcast the key set `table` (`_k` and, for keep-first, `_id`,
    `_pos`) sorted by key, or None when it is empty.  A set of more than
    `spark.sql.autoBroadcastJoinThreshold` bytes raises instead."""
    import pyarrow as pa
    import pyarrow.compute as pc

    limit = _broadcast_limit(spark)
    if nbytes > limit:
        raise ValueError(
            f"exact-substring dedup: the {what} gram-key set ({n:,} keys, "
            f"{nbytes:,} bytes) exceeds spark.sql.autoBroadcastJoinThreshold "
            f"({limit:,} bytes); run exact_substring_update once per "
            "ingest increment instead of one pass over the whole corpus"
        )
    if table is None or not table.num_rows:
        return None
    k = table.column("_k")
    if not pa.types.is_integer(k.type):
        table = table.set_column(0, "_k", k.cast(pa.large_binary()))
    table = table.take(pc.sort_indices(table, sort_keys=[("_k", "ascending")]))
    return spark.sparkContext.broadcast(_ipc(table))


def _collect_keys(merged: DataFrame, what: str):
    """Collect the `_merged_keys` payload rows and broadcast their key
    set (`_broadcast_keys`)."""
    import pyarrow as pa

    rows = [r for r in merged.collect() if r["_n"]]
    n = sum(r["_n"] for r in rows)
    nbytes = sum(r["_bytes"] for r in rows)
    parts = [_unipc(bytes(r["_p"])) for r in rows if r["_p"] is not None]
    table = pa.concat_tables(parts) if parts else None
    return _broadcast_keys(merged.sparkSession, table, n, nbytes, what)


def _covered(j, L: int, row_cp):
    """Characters covered by the marked windows that start at code points
    `j` (distinct, each `L` long and inside one row; ``row_cp`` holds each
    row's first code point and the total), and their maximal runs cut at
    row starts: (cov, row, span_start, span_end), 1-based inclusive
    positions in the row."""
    import numpy as np

    ncp = int(row_cp[-1])
    diff = np.zeros(ncp + 1, np.int32)
    diff[j] += 1
    diff[j + L] -= 1
    cov = np.cumsum(diff[:-1]) > 0
    edge = np.zeros(ncp + 1, bool)
    edge[row_cp] = True
    c = np.concatenate(([False], cov, [False]))
    s = np.flatnonzero(cov & (~c[:-2] | edge[:-1]))
    e = np.flatnonzero(cov & (~c[2:] | edge[1:]))
    row = np.searchsorted(row_cp, s, side="right") - 1
    return cov, row, s - row_cp[row] + 1, e - row_cp[row] + 1


def _lookup(keys_set, keys):
    """Index of each of `keys` in the sorted key set (a numpy int64 array
    or an Arrow binary array), -1 where absent."""
    import numpy as np
    import pyarrow.compute as pc

    if isinstance(keys_set, np.ndarray):
        i = np.minimum(np.searchsorted(keys_set, keys), len(keys_set) - 1)
        return np.where(keys_set[i] == keys, i, -1)
    return pc.index_in(keys, value_set=keys_set).fill_null(-1).to_numpy()


def _is_first(ids, row, pos, firsts, i):
    """Whether each window (its row's id, its `pos`) is its key's first
    occurrence `firsts[i]` (`_id`, `_pos`); NULL ids equal each other."""
    import pyarrow as pa
    import pyarrow.compute as pc

    a = ids.take(pa.array(row))
    b = firsts.column("_id").take(pa.array(i))
    same = pc.or_(
        pc.fill_null(pc.equal(a, b), False),
        pc.and_(a.is_null(), b.is_null()),
    )
    return same.to_numpy(zero_copy_only=False) & (
        pos == firsts.column("_pos").take(pa.array(i)).to_numpy()
    )


def _cut_text(text, layout, cov):
    """`text` (an Arrow string array with `docops.utf8_rows` layout)
    without its covered code points `cov`, as a rebuilt Arrow array."""
    import numpy as np
    import pyarrow as pa

    data, off, cp, _, valid = layout
    keep = np.ones(len(data), bool)
    keep[cp[0]:] = np.repeat(~cov, np.diff(cp))
    kept = np.concatenate(([0], np.cumsum(keep)))
    wide = pa.types.is_large_string(text.type)
    return pa.Array.from_buffers(
        text.type, len(text),
        [
            pa.py_buffer(np.packbits(valid, bitorder="little"))
            if text.null_count else None,
            pa.py_buffer(kept[off].astype(np.int64 if wide else np.int32)),
            pa.py_buffer(data[keep]),
        ],
        null_count=text.null_count,
    )


def _mark_and_cut(
    docs: DataFrame, L: int, id_col: str, text_col: str, hash_grams: bool,
    key_sets: list, spans: bool,
) -> DataFrame:
    """The exact-substring family's one per-character pass: a mapInArrow
    kernel marks every L-window of a row whose key is in one of the
    broadcast `key_sets` (pairs of a `_broadcast_keys` result and
    keep_first: a keep-first set leaves the key's first (`_id`, `_pos`)
    unmarked), covers the characters of the marked windows and cuts their
    maximal runs at row ends.  Each row is marked and cut on its own
    text.  Emits (id, span_start, span_end) per span when `spans`, else
    (id, n_spans, n_removed, text_deduped) per row; a NULL text gives a
    NULL text and zero counts."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    chunk = _WINDOW_CHUNK
    sets = [(bc, first) for bc, first in key_sets if bc is not None]
    names = (
        ["span_start", "span_end"] if spans
        else ["n_spans", "n_removed", "text_deduped"]
    )
    schema = StructType([docs.schema[id_col]] + [
        StructField(n, StringType() if n == "text_deduped" else LongType())
        for n in names
    ])

    def kernel(batches):
        import numpy as np
        import pyarrow as pa

        looks = []
        for bc, first in sets:
            t = _unipc(bc.value)
            k = t.column("_k").combine_chunks()
            looks.append((k.to_numpy() if hash_grams else k, t, first))
        for rb in batches:
            ids, text = rb.column(0), rb.column(1)
            lay = docops.utf8_rows(text)
            data, _, _, row_cp, _ = lay
            marked = [np.zeros(0, np.int64)]
            for row, j, start, nb in (
                docops.gram_windows(lay, L, chunk) if looks else ()
            ):
                keys = (
                    docops.gram_hashes(data, start, nb) if hash_grams
                    else docops.gram_bytes(data, start, nb)
                )
                hit = np.zeros(len(j), bool)
                for k, t, first in looks:
                    i = _lookup(k, keys)
                    m = i >= 0
                    if first:
                        at = np.flatnonzero(m)
                        pos = j[at] - row_cp[row[at]] + 1
                        m[at[_is_first(ids, row[at], pos, t, i[at])]] = False
                    hit |= m
                marked.append(j[hit])
            cov, row, s, e = _covered(np.concatenate(marked), L, row_cp)
            if spans:
                if len(row):
                    yield pa.RecordBatch.from_arrays(
                        [ids.take(pa.array(row)), pa.array(s), pa.array(e)],
                        names=[id_col] + names,
                    )
                continue
            removed = np.concatenate(([0], np.cumsum(cov)))[row_cp]
            yield pa.RecordBatch.from_arrays(
                [
                    ids,
                    pa.array(np.bincount(row, minlength=len(text)), pa.int64()),
                    pa.array(np.diff(removed), pa.int64()),
                    _cut_text(text, lay, cov) if len(row) else text,
                ],
                names=[id_col] + names,
            )

    return docs.select(id_col, text_col).mapInArrow(kernel, schema)


def _exact_substring(
    docs: DataFrame, min_len: int, id_col: str, text_col: str,
    hash_grams: bool, keep: str, spans: bool,
) -> DataFrame:
    """`exact_substring_spans` (`spans=True`) / `_removal`: collect and
    broadcast the corpus' duplicated gram keys, then mark and cut."""
    if keep not in ("all", "first"):
        raise ValueError(f"keep must be 'all' or 'first', got {keep!r}")
    if min_len < 1:
        raise ValueError(f"min_len must be >= 1, got {min_len}")
    first = keep == "first"
    counts = _gram_counts(
        docs, min_len, text_col, hash_grams, id_col if first else None
    )
    dup = _collect_keys(_merged_keys(counts, 2), "duplicated")
    return _mark_and_cut(
        docs, min_len, id_col, text_col, hash_grams, [(dup, first)], spans
    )


def exact_substring_spans(
    docs: DataFrame,
    min_len: int = 40,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_grams: bool = True,
    keep: str = "all",
) -> DataFrame:
    """EXACT duplicated-substring spans — the suffix-array substring-dedup
    semantic (Lee et al. 2022, "Deduplicating Training Data Makes Language
    Models Better") as a distributed plan: every maximal span of
    characters covered by a substring of length >= `min_len` that occurs
    at >= 2 positions anywhere in the corpus (all copies reported,
    intra-document repeats included).

    Identical output set to a suffix-array scan at the same min_len:
    every length-L window of a duplicated substring is itself duplicated,
    and every duplicated L-window IS such a substring, so the union of
    duplicated L-windows (df >= 2 corpus-wide) is exactly the
    duplicated-substring character set — a lossless reformulation, not an
    approximation like `substring_dup_pairs`' winnowing.  Each row is
    marked and cut on its own text (rows sharing an id, or with a NULL
    id, are not merged); the grams count corpus-wide.

    Plan (numpy mapInArrow kernels over Arrow buffers; no per-gram JVM
    row): `_gram_counts` hashes every L-code-point window (xxhash64 seed
    42, bit-equal to Spark's `xxhash64(substring(text, pos, L))`) and
    emits one row per (Arrow batch, bucket) with the bucket's distinct
    keys and clipped counts; one shuffle of those rows and a per-key merge
    give the duplicated keys, which the driver collects and broadcasts —
    a hot gram is one entry per batch, so no task is sized by one key.
    `_mark_and_cut` then marks, covers and cuts each batch.  One bound:
    the duplicated key set must fit `spark.sql.autoBroadcastJoinThreshold`
    (8 bytes per key hashed), or a ValueError names its size — run
    `exact_substring_update` per ingest increment past that.  With
    `hash_grams=True` (the default) a false mark needs a 64-bit
    collision; `hash_grams=False` keys on the gram bytes (exact, the
    DuckDB gates' path).

    `keep="all"` (default) marks every copy of a duplicated region;
    `keep="first"` leaves the globally-first occurrence (the smallest
    (id, pos), NULL ids first, as Spark orders them) unmarked so one copy
    survives removal — ExactSubstr's keep-one policy.  Rows sharing an id
    share that exemption.

    Output: (id_col, span_start, span_end) — 1-based inclusive char
    positions, one row per maximal span.
    """
    return _exact_substring(
        docs, min_len, id_col, text_col, hash_grams, keep, spans=True
    )


def exact_substring_removal(
    docs: DataFrame,
    min_len: int = 40,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_grams: bool = True,
    keep: str = "all",
) -> DataFrame:
    """Cut every duplicated span found by `exact_substring_spans` out of
    its row's text (all copies removed by default; `keep="first"`
    preserves the globally-first copy of each duplicated gram) and
    reassemble the remainder in order, in the same kernel pass that marks
    the row (the kernel rebuilds the Arrow string buffer).  Rows with no
    duplicated span pass through unchanged; a NULL text stays NULL.

    Output: (id_col, n_spans, n_removed, text_deduped), one row per input
    row."""
    return _exact_substring(
        docs, min_len, id_col, text_col, hash_grams, keep, spans=False
    )


def _bench_keys(bench: DataFrame, L: int, text_col: str, hash_grams: bool):
    """The benchmark's distinct gram keys, collected and broadcast."""
    counts = _gram_counts(bench, L, text_col, hash_grams)
    return _collect_keys(_merged_keys(counts, 1), "benchmark")


def decontaminate_spans(
    docs: DataFrame,
    bench: DataFrame,
    min_len: int = 40,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
    hash_grams: bool = True,
) -> DataFrame:
    """Surgical benchmark decontamination — located: every maximal span of
    a corpus document covered by a length->= `min_len` substring that
    appears VERBATIM anywhere in the benchmark table.  The span-level
    complement of `text.decontaminate` (which drops whole documents on
    word-n-gram overlap): the same kernels as `exact_substring_spans`,
    but a window is marked by membership of its L-gram in the benchmark's
    distinct gram keys instead of by corpus df>=2.

    Plan: the benchmark's distinct keys (benchmarks are small and
    fixed-size) are collected and broadcast under the same bound as the
    duplicated set; the corpus side is one narrow mark-and-cut pass with
    no exchange at all.

    Output: (id_col, span_start, span_end), 1-based inclusive."""
    keys = _bench_keys(bench, min_len, bench_text_col, hash_grams)
    return _mark_and_cut(
        docs, min_len, id_col, text_col, hash_grams, [(keys, False)], True
    )


def decontaminate_removal(
    docs: DataFrame,
    bench: DataFrame,
    min_len: int = 40,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
    hash_grams: bool = True,
) -> DataFrame:
    """Cut every benchmark-contaminated span (see `decontaminate_spans`)
    out of the corpus text, keeping the rest of each document — the
    keep-the-document decontamination policy for corpora too valuable to
    drop whole rows from.  Output: (id_col, n_spans, n_removed,
    text_deduped)."""
    keys = _bench_keys(bench, min_len, bench_text_col, hash_grams)
    return _mark_and_cut(
        docs, min_len, id_col, text_col, hash_grams, [(keys, False)], False
    )


def exact_substring_update(
    docs_batch: DataFrame,
    store_dir: str,
    min_len: int = 40,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_grams: bool = True,
    increment_name: str | None = None,
    out_writer=None,
) -> DataFrame:
    """Incremental exact-substring removal for a versioned-ingest corpus:
    process ONE batch of new documents against the gram-key store built by
    all previous calls, return the removal output (id, n_spans, n_removed,
    text_deduped) for THIS batch only, and append the batch's novel gram
    keys to the store.

    KEEP-FIRST IS INCREMENTALLY COMPUTABLE — that is the point of this
    operator: under the keep-first policy a position is cut iff its
    L-window occurred EARLIER (in ingest order), so a batch needs only
    (a) the set of all gram keys seen in prior batches and (b) its own
    intra-batch keep-first marking; later batches can never retroactively
    change an earlier batch's output (keep-all can — a future duplicate
    marks the past copy — which is why the batch API pins keep-first).
    When batch doc-ids increase monotonically across calls, the
    concatenated outputs are IDENTICAL to a from-scratch
    `exact_substring_removal(union, keep="first")`
    (tests/test_exact_substring.py pins this); with arbitrary ids,
    "first" means ingest order — the semantics a daily-ingest deployment
    actually wants.

    Plan: the batch's `_gram_counts` rows (checkpointed, read twice) give
    the intra-batch duplicated keys with their first occurrences
    (collected and broadcast, as in `exact_substring_removal`) and the
    batch's distinct keys as `_k` rows — the operator's only per-gram JVM
    rows.  A semi-join of those rows with the store finds the keys seen
    before (collected and broadcast: every occurrence is marked); one
    mark-and-cut pass cuts the batch.  Both collected sets have the
    `spark.sql.autoBroadcastJoinThreshold` bound of `exact_substring_spans`.

    The store is an increments dir of `sources/checkpoint.py`, the layout
    `pipeline.incremental_update` uses: one committed increment per call,
    each holding distinct `_k` keys (the 8-byte xxhash64 gram keys on the
    scale path, the gram strings with `hash_grams=False`); each call
    appends ONLY keys not already stored (an anti-join), so the store
    stays globally distinct and a call's write volume is
    batch-proportional.  On a real deployment the store is an Iceberg
    table and the append is a MERGE; reading is one columnar scan of a
    single column.

    COMMIT ORDER (ADVICE r5): the removal output is materialized — via
    `out_writer(out)` when given (e.g. the streaming sink's
    batch-addressed write), else an eager localCheckpoint — BEFORE the
    batch's keys are appended to the store, so a failed/abandoned caller
    action can no longer leave the store poisoned with its own batch's
    keys.  An uncommitted store increment (a crashed partial append) is
    ignored on read and safely overwritten.
    `increment_name` overrides the sequential increment naming so replays
    of the same batch (streaming at-least-once) target the same path; a
    replay under a committed name is marked against the store without
    that increment, then replaces it.
    """
    from ..sources import checkpoint as ckpt

    L = min_len
    if L < 1:
        raise ValueError(f"min_len must be >= 1, got {L}")
    spark = docs_batch.sparkSession
    counts = _gram_counts(
        docs_batch, L, text_col, hash_grams, id_col
    ).localCheckpoint(eager=False)
    keys = _merged_keys(counts, 1, "long" if hash_grams else "string")

    incs = [
        n for n in ckpt.committed_increments(store_dir) if n != increment_name
    ]
    stored = ckpt.read_increments(spark, store_dir, incs)

    sets = [(_collect_keys(_merged_keys(counts, 2), "duplicated"), True)]
    if stored is not None:
        # any window already in the store is a later copy by definition
        seen = keys.join(stored, "_k", "left_semi").toArrow()
        sets.append((
            _broadcast_keys(spark, seen, seen.num_rows, seen.nbytes, "stored"),
            False,
        ))
    out = _mark_and_cut(
        docs_batch, L, id_col, text_col, hash_grams, sets, spans=False
    )

    # 1. commit the removal OUTPUT first (write or eager checkpoint) —
    # `out` binds the pre-append increment list either way, so the new
    # subdir cannot feed back into this batch's own marking
    if out_writer is not None:
        out_writer(out)
    else:
        out = out.localCheckpoint(eager=True)

    # 2. only then append the batch's NOVEL keys to the store; overwrite
    # makes a replay targeting the same increment_name idempotent
    novel = keys if stored is None else keys.join(stored, "_k", "left_anti")
    name = increment_name if increment_name is not None else str(len(incs))
    ckpt.write_increment(store_dir, name, novel)
    return out
