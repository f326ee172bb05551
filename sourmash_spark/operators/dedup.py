"""Deduplication operators for a training-data pipeline over `documents`.

Each operator is a pure DataFrame plan; every one has a DuckDB oracle in
``__spark_entry__.oracle_sql`` at the matching key.  Scale notes inline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
import pyspark.sql.functions as F

from . import docops
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
    """All-pairs jaccard over hash60 sketches (inverted-index join, same
    plan as operators.compare.compare_all_pairs).  `df_cap` (default
    DEFAULT_DF_CAP, 0 disables) drops hashes present in more than df_cap
    docs from the join — the boilerplate guard against the O(df^2) pair
    blowup; sizes stay full-sketch, so capped jaccard lower-bounds true
    jaccard.  `n_docs` (if known) proves the cap a no-op for free when
    n_docs <= df_cap (sketch hashes are per-doc distinct); left None it is
    one narrow count.

    EAGERNESS: with df_cap on and n_docs None, building this plan runs a
    small count (and possibly the cap_postings size probe) at CALL time;
    lazy plan-composition callers pass n_docs or df_cap=0."""
    from .compare import shared_key_pairs

    if df_cap and n_docs is None:
        n_docs = sketches.count()
    pairs = shared_key_pairs(
        sketches.select(
            F.col(id_col), F.col("n_hashes"),
            F.explode("hashes").alias("hashval"),
        ),
        ["hashval"], id_col, df_cap, n_ids=n_docs, size_col="n_hashes",
    ).withColumnRenamed("n_shared", "intersect_hashes")
    return (
        pairs.withColumn(
            "jaccard",
            F.col("intersect_hashes")
            / (F.col("size_a") + F.col("size_b") - F.col("intersect_hashes")),
        )
        .filter(F.col("jaccard") >= threshold)
    )


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
    return (
        pairs.withColumn(
            "jaccard",
            F.col("shared") / (F.col("size_a") + F.col("size_b") - F.col("shared")),
        )
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
    operators.lsh.band_signatures (band key = hash60 of the comma-joined
    range minima instead of xxhash64).  Emits (doc_id, band_idx, band_key);
    all-empty bands are dropped."""
    m = num_bands * band_size
    width = space // m + 1
    rows = F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        # exact long arithmetic (h - h%w == i*w ≡ h//w == i for h >= 0):
        # float division rounds hashes above 2**53 and can disagree with
        # the oracle's integer `//` at range boundaries (see operators/lsh)
        lambda i: F.coalesce(
            F.array_min(
                F.filter(
                    F.col("hashes"),
                    lambda h: (h - (h % F.lit(width)))
                    == i.cast("long") * F.lit(width),
                )
            ),
            F.lit(-1).cast("long"),
        ),
    )
    bands = F.transform(
        F.sequence(F.lit(0), F.lit(num_bands - 1)),
        lambda j: F.slice(F.col("_rows"), j * band_size + 1, band_size),
    )
    return (
        sketches.filter(F.col("n_hashes") > 0)
        .withColumn("_rows", rows)
        .select(
            id_col,
            F.posexplode(bands).alias("band_idx", "band_vals"),
        )
        .filter(F.array_max("band_vals") != F.lit(-1).cast("long"))
        .select(
            id_col,
            "band_idx",
            docops.hash60(
                F.concat_ws(",", F.col("band_vals").cast("array<string>"))
            ).alias("band_key"),
        )
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


def _exact_substring_span_arrays(
    docs: DataFrame,
    min_len: int,
    id_col: str,
    text_col: str,
    hash_grams: bool,
    keep: str = "all",
) -> DataFrame:
    """(id_col, spans) — per-doc maximal duplicated spans as a sorted array
    of struct<span_start:long, span_end:long> (1-based char positions,
    inclusive).  Shared core of `exact_substring_spans` / `_removal`.

    A character is covered iff it lies inside SOME substring of length
    >= min_len that occurs at >= 2 positions in the corpus (intra-doc
    repeats count, as in Lee et al. 2022's ExactSubstr definition): every
    length-L window of such a substring is itself duplicated, and
    conversely every duplicated L-window IS such a substring — so the
    union of duplicated L-windows equals exactly the duplicated-substring
    character set, and merging overlapping/adjacent marked windows yields
    the maximal spans a suffix array would find.

    Plan: one stride-1 posexplode (O(total chars) rows — same order as the
    input, the price of EXACT substring semantics; the approximate path is
    `substring_dup_pairs`' winnowing), one map-side-combined count per
    gram key for the duplicated set, a key equi-join back (AQE broadcasts
    the dup set when small), then ONE shuffle of only the MARKED positions
    on doc_id with a pure-column fold doing the island merge.  With
    `hash_grams=True` (scale default) the two gram exchanges carry 8-byte
    xxhash64 keys, not L-byte strings; a false mark needs a 64-bit
    collision (same declared trade as repeated_segment_removal).
    """
    L = min_len
    grams = _doc_grams(docs, L, id_col, text_col, hash_grams)
    if keep not in ("all", "first"):
        raise ValueError(f"keep must be 'all' or 'first', got {keep!r}")
    # Occurrence marking as WINDOW functions over the gram key instead of
    # a count-aggregate + join back: the join's probe side re-ran the
    # whole stride-1 explode + hash (the operator's dominant cost) a
    # second time, because the grams plan fed both the aggregate and the
    # probe.  One window shuffle marks positions in a single gram pass —
    # measured ~30% faster at sf0.1 and removes an O(total chars) explode
    # at every scale.  Trade (documented): a pathologically hot gram key
    # (mega boilerplate) lands its occurrences in ONE window task — a
    # linear, disk-spillable straggler, acceptable for an operator whose
    # scale story is per-ingest-increment runs (see exact_substring_spans
    # docstring), and the keys are 64-bit hashes so the window partitioning
    # itself is uniform apart from true duplicate mass.
    from pyspark.sql import Window

    w = Window.partitionBy("_k")
    if keep == "first":
        # keep-one policy: the globally-first occurrence of each
        # duplicated gram (min (doc_id, pos), the corpus scan order) stays
        # unmarked, so the first copy of a duplicated region survives
        marked = (
            grams.select(
                F.col(id_col),
                "pos",
                F.count("*").over(w).alias("_occ"),
                F.min(F.struct(F.col(id_col), F.col("pos")))
                .over(w)
                .alias("_first"),
            )
            .filter(
                (F.col("_occ") >= 2)
                & (F.struct(F.col(id_col), F.col("pos")) != F.col("_first"))
            )
            .select(id_col, "pos")
        )
    else:
        marked = (
            grams.select(
                F.col(id_col), "pos", F.count("*").over(w).alias("_occ")
            )
            .filter(F.col("_occ") >= 2)
            .select(id_col, "pos")
        )
    return _merge_marked_to_spans(marked, L, id_col)


def _doc_grams(
    docs: DataFrame, L: int, id_col: str, text_col: str, hash_grams: bool
) -> DataFrame:
    """(id_col, pos, _k): every stride-1 L-gram with its 1-based position
    and join key (xxhash64 on the scale path, raw string as the exactness
    baseline) — the shared feed of the exact-substring family."""
    return docs.select(
        F.col(id_col),
        F.posexplode(docops.char_shingles(F.col(text_col), L)).alias(
            "pos0", "g"
        ),
    ).select(
        id_col,
        (F.col("pos0") + 1).cast("long").alias("pos"),
        (F.xxhash64("g") if hash_grams else F.col("g")).alias("_k"),
    )


def _merge_marked_to_spans(
    marked: DataFrame, L: int, id_col: str
) -> DataFrame:
    """(id_col, spans): merge marked window positions [p, p+L-1] into
    maximal disjoint spans.

    Gaps-and-islands via window functions (ADVICE r5 / VERDICT r5 #3):
    positions sorted per doc, a new island starts when the position gap
    exceeds L (window [p, p+L-1] then neither overlaps nor touches the
    previous span), islands reduce to (min, max+L-1).  Marked positions
    therefore NEVER concentrate into one per-doc array — the old
    collect_list + concat/slice fold built an O(marked)-element buffer
    per doc and did O(marked x spans) array copies, a memory cliff for a
    mostly-duplicated giant document.  Only the final (small) span
    structs are collected per doc.  Exchanges: ONE shuffle on id_col —
    the window's partitioning also satisfies both downstream groupBys
    (hash(id) clusters (id, island)), so no further exchange.  Duplicate
    (id, pos) rows are benign (same island, same min/max) — the
    incremental path relies on that."""
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy("pos")
    prev = F.lag("pos").over(w)
    new_island = F.when(
        prev.isNull() | (F.col("pos") > prev + L), F.lit(1)
    ).otherwise(F.lit(0))
    islands = marked.select(
        F.col(id_col),
        F.col("pos"),
        F.sum(new_island)
        .over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        .alias("_island"),
    )
    spans = islands.groupBy(id_col, "_island").agg(
        F.min("pos").cast("long").alias("span_start"),
        (F.max("pos") + (L - 1)).cast("long").alias("span_end"),
    )
    return spans.groupBy(id_col).agg(
        F.array_sort(
            F.collect_list(F.struct("span_start", "span_end"))
        ).alias("spans")
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
    Models Better") as a distributed DataFrame plan: every maximal span of
    characters covered by a substring of length >= `min_len` that occurs
    at >= 2 positions anywhere in the corpus (all copies reported,
    intra-document repeats included).

    Identical output set to a suffix-array scan at the same min_len: the
    L-window df>=2 marking is a lossless reformulation (see
    `_exact_substring_span_arrays`), not an approximation — unlike
    `substring_dup_pairs`, which trades winnowing sparsity for recall-1
    DETECTION only.  Cost is O(total corpus chars) exploded rows; at
    100 TB run it per-partition-pruned ingest increment, not the full
    corpus, or use the winnowing path for candidate discovery first.

    `keep="all"` (default) marks every copy of a duplicated region;
    `keep="first"` leaves the globally-first occurrence (min (doc_id,
    pos)) unmarked so one copy survives removal — ExactSubstr's keep-one
    policy.

    Output: (id_col, span_start, span_end) — 1-based inclusive char
    positions, one row per maximal span.
    """
    arrays = _exact_substring_span_arrays(
        docs, min_len, id_col, text_col, hash_grams, keep
    )
    return arrays.select(
        id_col, F.explode("spans").alias("s")
    ).select(id_col, "s.span_start", "s.span_end")


def exact_substring_removal(
    docs: DataFrame,
    min_len: int = 40,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_grams: bool = True,
    keep: str = "all",
) -> DataFrame:
    """Cut every duplicated span found by `exact_substring_spans` out of
    the text (all copies removed by default; `keep="first"` preserves the
    globally-first copy of each duplicated gram) and reassemble the
    remainder in order.  Docs with no duplicated spans pass through
    unchanged.

    Reassembly is a pure-column fold over the per-doc sorted span array
    (substring concatenation of the inter-span gaps) — no second shuffle
    beyond the span aggregation itself, and the full `docs` side never
    moves: spans join back to the narrow (id, text) projection.

    Output: (id_col, n_spans, n_removed, text_deduped)."""
    arrays = _exact_substring_span_arrays(
        docs, min_len, id_col, text_col, hash_grams, keep
    )
    return _cut_spans(docs, arrays, id_col, text_col)


def _cut_spans(
    docs: DataFrame, arrays: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Splice each doc's text around its sorted disjoint `spans` array —
    a pure-column fold over the inter-span gaps; docs absent from
    `arrays` pass through unchanged.  Output: (id_col, n_spans,
    n_removed, text_deduped)."""
    text = F.col(text_col)
    spans = F.coalesce(
        F.col("spans"),
        F.array().cast("array<struct<span_start:long,span_end:long>>"),
    )
    acc0 = F.struct(
        F.lit(1).cast("long").alias("pos"), F.lit("").alias("out")
    )
    kept = F.aggregate(
        spans,
        acc0,
        lambda acc, s: F.struct(
            (s["span_end"] + 1).alias("pos"),
            F.concat(
                acc["out"],
                F.substring(text, acc["pos"], s["span_start"] - acc["pos"]),
            ).alias("out"),
        ),
        lambda acc: F.concat(
            acc["out"],
            F.substring(text, acc["pos"], F.length(text) - acc["pos"] + 1),
        ),
    )
    return (
        docs.select(id_col, text_col)
        .join(arrays, id_col, "left")
        .select(
            F.col(id_col),
            F.size(spans).cast("long").alias("n_spans"),
            F.aggregate(
                spans,
                F.lit(0).cast("long"),
                lambda acc, s: acc + s["span_end"] - s["span_start"] + 1,
            ).alias("n_removed"),
            kept.alias("text_deduped"),
        )
    )


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
    word-n-gram overlap): same window-marking machinery as
    `exact_substring_spans`, but a position is marked by membership of its
    L-gram in the benchmark gram set instead of by corpus df>=2.

    Plan: corpus grams are the same stride-1 posexplode; the benchmark
    side reduces to DISTINCT gram keys (tiny vs the corpus — benchmarks
    are fixed-size), so the marking join is a semi-join Spark/AQE
    broadcasts; islands merge in one marked-rows-only shuffle.  Scale is
    O(corpus chars) map work + a broadcast probe — no corpus-keyed
    exchange at all, cheaper than the dedup variant.

    Output: (id_col, span_start, span_end), 1-based inclusive."""
    grams = _doc_grams(docs, min_len, id_col, text_col, hash_grams)
    bench_keys = (
        _doc_grams(
            bench.select(
                F.lit(0).alias("_bid"), F.col(bench_text_col)
            ),
            min_len,
            "_bid",
            bench_text_col,
            hash_grams,
        )
        .select("_k")
        .distinct()
    )
    marked = grams.join(bench_keys, "_k", "left_semi").select(id_col, "pos")
    arrays = _merge_marked_to_spans(marked, min_len, id_col)
    return arrays.select(id_col, F.explode("spans").alias("s")).select(
        id_col, "s.span_start", "s.span_end"
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
    grams = _doc_grams(docs, min_len, id_col, text_col, hash_grams)
    bench_keys = (
        _doc_grams(
            bench.select(F.lit(0).alias("_bid"), F.col(bench_text_col)),
            min_len,
            "_bid",
            bench_text_col,
            hash_grams,
        )
        .select("_k")
        .distinct()
    )
    marked = grams.join(bench_keys, "_k", "left_semi").select(id_col, "pos")
    arrays = _merge_marked_to_spans(marked, min_len, id_col)
    return _cut_spans(docs, arrays, id_col, text_col)


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

    The store is an increments dir of `sources/checkpoint.py`, the layout
    `pipeline.incremental_update` uses: one committed increment per call,
    each holding distinct `_k` keys (the 8-byte xxhash64 gram keys on the
    scale path); each call appends ONLY
    keys not already stored, so the store stays globally distinct and a
    call's write volume is batch-proportional.  On a real deployment the
    store is an Iceberg table and the append is a MERGE; reading is one
    columnar scan of a single 8-byte column.

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
    spark = docs_batch.sparkSession
    grams = _doc_grams(docs_batch, L, id_col, text_col, hash_grams)

    incs = [
        n for n in ckpt.committed_increments(store_dir) if n != increment_name
    ]
    # explicit schema: an increment whose batch brought nothing novel is
    # an empty parquet dir, which schema inference cannot read
    key_schema = f"_k {'long' if hash_grams else 'string'}"
    stored = ckpt.read_increments(spark, store_dir, key_schema, incs)

    # intra-batch keep-first marking (same shape as the batch operator)
    dup = (
        grams.groupBy("_k")
        .agg(
            F.count("*").alias("_occ"),
            F.min(F.struct(F.col(id_col), F.col("pos"))).alias("_first"),
        )
        .filter(F.col("_occ") >= 2)
        .select("_k", "_first")
    )
    marked = (
        grams.join(dup, "_k")
        .filter(F.struct(F.col(id_col), F.col("pos")) != F.col("_first"))
        .select(id_col, "pos")
    )
    if stored is not None:
        # any window already in the store is a later copy by definition
        # (duplicate positions across the two marked sets are benign: the
        # island-merge fold re-extends the same span and moves on)
        marked = marked.unionByName(
            grams.join(stored, "_k", "left_semi").select(id_col, "pos")
        )
    out = _cut_spans(
        docs_batch,
        _merge_marked_to_spans(marked, L, id_col),
        id_col,
        text_col,
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
    novel = grams.select("_k").distinct()
    if stored is not None:
        novel = novel.join(stored, "_k", "left_anti")
    name = increment_name if increment_name is not None else str(len(incs))
    ckpt.write_increment(store_dir, name, novel)
    return out
