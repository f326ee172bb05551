"""Round-6 optimization-specific tests: each change to an operator's
internals gets a focused equivalence/robustness check here."""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
import pytest

from sourmash_spark.operators import dedup as dedup_ops
from sourmash_spark.operators import docops
from sourmash_spark.operators import text as text_ops


def test_mega_duplicated_doc_spans(spark):
    """VERDICT r5 #3: a mostly-duplicated giant document must not
    concentrate its marked positions into one aggregation buffer.  The
    window island-merge keeps marked rows as rows; this plants a ~120k
    char doc that is one repeated phrase (virtually every position
    marked) and checks the spans collapse to ONE maximal span and the
    removal output is exact."""
    phrase = "the quick brown fox jumps over the lazy dog 0123456789 "
    giant = phrase * 2200  # ~123k chars, wholly self-duplicated
    rows = [(0, giant), (1, "unique text " + phrase + " more unique")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    spans = dedup_ops.exact_substring_spans(
        docs, min_len=40, keep="all"
    ).collect()
    g = [r for r in spans if r["doc_id"] == 0]
    # every window of the giant doc is duplicated -> one maximal span
    assert len(g) == 1
    assert g[0]["span_start"] == 1
    assert g[0]["span_end"] == len(giant)
    out = {
        r["doc_id"]: r
        for r in dedup_ops.exact_substring_removal(
            docs, min_len=40, keep="all"
        ).collect()
    }
    assert out[0]["text_deduped"] == ""
    assert out[0]["n_removed"] == len(giant)


def test_island_merge_matches_fold_reference(spark):
    """The window gaps-and-islands merge must equal the old fold: random
    marked position sets, reference merge in Python."""
    rng = np.random.default_rng(7)
    L = 5
    rows = []
    expected = {}
    for doc in range(20):
        pos = sorted(set(rng.integers(1, 200, size=rng.integers(1, 40))))
        rows += [(doc, int(p)) for p in pos]
        spans = []
        for p in pos:
            if spans and p <= spans[-1][1] + 1:
                spans[-1][1] = p + L - 1
            else:
                spans.append([p, p + L - 1])
        expected[doc] = [tuple(s) for s in spans]
    marked = spark.createDataFrame(rows, "doc_id long, pos long")
    got = {
        r["doc_id"]: [
            (s["span_start"], s["span_end"]) for s in r["spans"]
        ]
        for r in dedup_ops._merge_marked_to_spans(
            marked, L, "doc_id"
        ).collect()
    }
    assert got == expected


def _old_greedy_rounds(query, cands, min_hashes, md5_of):
    """The pre-r6 winner/consume loop (re-intersect every candidate every
    round) — the equivalence reference for the CounterGather rewrite.
    Returns [(sig_id, found_size, orig_inter, match_size, remaining_before)]
    plus the final remaining set."""
    remaining = query.copy()
    out = []
    cands = dict(cands)
    while cands and remaining.size:
        best_id, best_ov = None, -1
        for cid in sorted(cands, key=lambda c: (md5_of[c], c)):
            ov = int(np.intersect1d(cands[cid], remaining).size)
            if ov > best_ov:
                best_id, best_ov = cid, ov
        if best_ov < min_hashes or best_ov <= 0:
            break
        match = cands.pop(best_id)
        found = np.intersect1d(remaining, match)
        orig_inter = int(np.intersect1d(query, match).size)
        out.append(
            (best_id, int(found.size), orig_inter, int(match.size),
             int(remaining.size))
        )
        remaining = np.setdiff1d(remaining, match)
    return out, remaining


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_greedy_rounds_matches_old_loop(seed):
    from sourmash_spark.operators.gather import _greedy_rounds

    rng = np.random.default_rng(seed)
    universe = rng.choice(10_000, size=600, replace=False).astype(np.uint64)
    query = np.unique(rng.choice(universe, size=300, replace=False))
    cands = {
        int(i): np.unique(rng.choice(universe, size=rng.integers(5, 80)))
        for i in range(25)
    }
    # duplicate-md5 collections exercise the (md5, id) tie-break
    md5_of = {i: f"m{i % 7}" for i in cands}
    rows, remaining = _greedy_rounds(
        query, dict(cands), scaled=8, ksize=12, min_hashes=2,
        md5_of=md5_of,
    )
    ref_rows, ref_remaining = _old_greedy_rounds(query, cands, 2, md5_of)
    got = [
        (r["sig_id"], r["unique_intersect_bp"] // 8,
         r["intersect_bp"] // 8, r["gather_result_rank"])
        for r in rows
    ]
    want = [
        (sid, found, orig, rank)
        for rank, (sid, found, orig, _ms, _rb) in enumerate(ref_rows)
    ]
    assert got == want
    assert np.array_equal(remaining, ref_remaining)
    # full row scalar parity on a couple of fields
    for r, (sid, found, orig, ms, rb) in zip(rows, ref_rows):
        assert r["remaining_bp"] == (rb - found) * 8
        assert r["query_n_hashes"] == query.size


def test_opaque_is_identity(spark):
    df = spark.range(100).select(
        "id", docops.opaque(F.col("id") * 3 + 1).alias("y")
    )
    rows = df.collect()
    assert all(r["y"] == r["id"] * 3 + 1 for r in rows)


def test_gopher_filter_does_not_reinline(spark):
    """The quality-chain shape — a filter on `passes` over gopher output —
    must reference the staged arrays as attributes, not re-inline the
    split/sort/fold trees into the pushed filter predicate (the 15x
    regression this round's opaque() barrier fixes)."""
    docs = spark.createDataFrame(
        [(i, f"some words here {i} " * 20) for i in range(10)],
        "doc_id long, text string",
    )
    bad = (
        text_ops.gopher_quality(docs)
        .filter(~F.col("passes"))
        .select("doc_id")
    )
    plan = bad._jdf.queryExecution().optimizedPlan().toString()
    filter_part = plan.split("Filter", 1)[1].split("+-", 1)[0]
    # the predicate may fold over the staged ATTRIBUTES (_w/_lines/_g2),
    # but must not re-derive them from text (split of the raw column)
    assert "split(lower(text" not in filter_part
    assert "_w#" in filter_part


def test_stream_substring_replay_is_idempotent(spark, tmp_path):
    """ADVICE r5 (high): foreachBatch is at-least-once — replaying a batch
    whose keys were already appended to the gram store used to mark the
    whole batch as previously-seen text, cut it to near-empty, and append
    conflicting duplicate rows.  The batch-addressed handler must make a
    replay converge to the SAME output."""
    from sourmash_spark.streaming.watch import _substring_batch_handler

    store = str(tmp_path / "gramstore")
    out = str(tmp_path / "deduped")
    ckpt = tmp_path / "ckpt"  # the query id Spark keeps in a checkpoint
    ckpt.mkdir()
    (ckpt / "metadata").write_text('{"id":"q1"}\n')
    phrase = "shared boilerplate phrase with plenty of characters"
    rows = [
        (0, f"intro {phrase} middle {phrase} end"),
        (1, "wholly unique text that has nothing repeated at all here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    handle = _substring_batch_handler(
        str(ckpt), store, out, 30, "doc_id", "text"
    )

    handle(df, 0)
    first = {
        r["doc_id"]: (r["n_removed"], r["text_deduped"])
        for r in spark.read.parquet(out).collect()
    }
    # doc 1 is unique: must NOT have been cut
    assert first[1][0] == 0

    # replay of the fully-committed batch: everything must be unchanged
    handle(df, 0)
    again = {
        r["doc_id"]: (r["n_removed"], r["text_deduped"])
        for r in spark.read.parquet(out).collect()
    }
    assert again == first
    import os

    incs = [d for d in os.listdir(store) if d.startswith("increment=")]
    assert incs == ["increment=bq1-000000000"]

    # crash-before-store-append replay: wipe the increment (as if the
    # append never committed) and replay — recomputes identical rows
    import shutil

    shutil.rmtree(os.path.join(store, "increment=bq1-000000000"))
    handle(df, 0)
    redo = {
        r["doc_id"]: (r["n_removed"], r["text_deduped"])
        for r in spark.read.parquet(out).collect()
    }
    assert redo == first


def test_simhash_pairs_dedup_by_construction(spark):
    """The distinct() exchange was replaced by first-shared-chunk
    filtering: a pair matching the chunk join k times must be emitted
    exactly once, by BOTH plans (tiled and block_pairs), with the same row
    set a distinct() would produce.  Planted values share MANY chunks
    (small hamming distances) so the multi-match path is actually
    exercised."""
    import random

    rng = random.Random(23)
    base = rng.getrandbits(60)

    def flip(v, nbits, seed):
        r = random.Random(seed)
        for b in r.sample(range(60), nbits):
            v ^= 1 << b
        return v

    # distances 1..6: pairs share most of their 13 chunks -> k-way join
    # matches; plus random far rows
    rows = [(0, base, 5)] + [
        (i, flip(base, i, 40 + i), 5) for i in range(1, 7)
    ] + [(200 + i, rng.getrandbits(60), 5) for i in range(30)]
    sims = spark.createDataFrame(
        rows, "doc_id long, simhash long, n_toks long"
    )
    for bp in (False, True):
        out = dedup_ops.simhash_pairs(sims, max_hamming=12, block_pairs=bp)
        got = [tuple(r) for r in out.collect()]
        # exactly once per qualifying pair: list == set == distinct
        assert len(got) == len(set(got)), bp
        assert sorted(got) == sorted(
            tuple(r) for r in out.distinct().collect()
        ), bp
    vals = {r[0]: r[1] for r in rows}
    want = {
        (i, j, bin(vals[i] ^ vals[j]).count("1"))
        for i in vals
        for j in vals
        if i < j and bin(vals[i] ^ vals[j]).count("1") <= 12
    }
    stats: dict = {}
    got_tiled = {
        tuple(r)
        for r in dedup_ops.simhash_pairs(
            sims, max_hamming=12, stats=stats
        ).collect()
    }
    assert got_tiled == want
    assert stats == {"join_rows": 0, "n": 37, "all_pairs": 666, "plan": "tiled"}
    block: dict = {}
    got_block = {
        tuple(r)
        for r in dedup_ops.simhash_pairs(
            sims, max_hamming=12, block_pairs=True, stats=block
        ).collect()
    }
    assert got_block == want
    assert block == {
        "join_rows": _block_join_rows(vals.values(), 12), "n": 37,
        "all_pairs": 666, "plan": "block_join",
    }
    assert block["join_rows"] > 0

    # a NULL id pairs with nothing and must not turn the other ids into
    # float64 (ids above 2^53 would round); equal simhashes -> hamming 0
    big = 2**53 + 1
    nulls = spark.createDataFrame(
        [(None, 7, 1), (big, 7, 1), (big + 2, 7, 1), (big + 4, 1 << 40, 1)],
        "doc_id long, simhash long, n_toks long",
    )
    for bp in (False, True):
        got = {
            tuple(r)
            for r in dedup_ops.simhash_pairs(
                nulls, max_hamming=3, block_pairs=bp
            ).collect()
        }
        assert got == {(big, big + 2, 0)}, bp

    # tiled plan at the tile-size edges; ids are negative and unsorted;
    # the first rows plant hamming 0, h and h + 1
    tile, h = dedup_ops._TILE, 12
    for n in (0, 1, tile - 1, tile, tile + 1):
        r = random.Random(n)
        ids = list(range(-(n // 2), n - n // 2))
        r.shuffle(ids)
        v = [r.getrandbits(24) for _ in range(n)]
        if n > 4:
            v[1] = v[0]
            v[2] = flip(v[0], h, 1)
            v[3] = flip(v[0], h + 1, 2)
        tiled = spark.createDataFrame(
            [(i, x, 5) for i, x in zip(ids, v)],
            "doc_id long, simhash long, n_toks long",
        )
        stats = {}
        got = [
            tuple(x)
            for x in dedup_ops.simhash_pairs(
                tiled, max_hamming=h, stats=stats
            ).collect()
        ]
        assert stats["plan"] == "tiled", (n, stats)
        assert stats["n"] == n
        assert stats["all_pairs"] == n * (n - 1) // 2
        hv = dict(zip(ids, v))
        brute = {
            (a, b, bin(hv[a] ^ hv[b]).count("1"))
            for a in ids for b in ids
            if a < b and bin(hv[a] ^ hv[b]).count("1") <= h
        }
        assert len(got) == len(set(got)), n
        assert set(got) == brute, n
        if n > 4:
            near = {(min(ids[0], ids[k]), max(ids[0], ids[k])): d
                    for k, d in ((1, 0), (2, h))}
            assert {(a, b): d for a, b, d in got if (a, b) in near} == near
            assert (min(ids[0], ids[3]), max(ids[0], ids[3])) not in {
                (a, b) for a, b, _ in got
            }


def _block_join_rows(vals, h):
    """Σ c(c-1)/2 over simhash_pairs' block_pairs keys (pairs of the h+2
    evenly split chunks), computed in Python."""
    from collections import Counter

    n_chunks = h + 2
    base, rem = divmod(dedup_ops.SIMHASH_BITS, n_chunks)
    widths = [base + (i < rem) for i in range(n_chunks)]
    offs = [sum(widths[:i]) for i in range(n_chunks)]
    cnt = Counter()
    for v in vals:
        ch = [(v >> o) & ((1 << w) - 1) for o, w in zip(offs, widths)]
        for i in range(n_chunks):
            for j in range(i + 1, n_chunks):
                cnt[(i, j, ch[i], ch[j])] += 1
    return sum(c * (c - 1) // 2 for c in cnt.values())


def _simhash_60sum(docs, id_col="doc_id", text_col="text"):
    """The 60-sum SimHash formulation the numpy kernel replaced: explode
    the tokens, one groupBy with 60 codegen'd bit sums, majority bits.
    Kept as the reference of dedup_ops.simhash."""
    toks = docs.select(
        F.col(id_col),
        F.explode(docops.words(F.col(text_col))).alias("tok"),
    ).withColumn("h", docops.hash60(F.col("tok")))
    bit_sums = [
        F.sum(F.shiftright("h", b).bitwiseAND(F.lit(1))).alias(f"s{b}")
        for b in range(dedup_ops.SIMHASH_BITS)
    ]
    agg = toks.groupBy(id_col).agg(F.count("*").alias("n_toks"), *bit_sums)
    sim = None
    for b in range(dedup_ops.SIMHASH_BITS):
        bit = F.when(
            F.col(f"s{b}") * 2 >= F.col("n_toks"), F.lit(1).cast("long")
        ).otherwise(F.lit(0).cast("long"))
        term = bit * F.lit(1 << b).cast("long")
        sim = term if sim is None else sim + term
    return agg.select(id_col, sim.alias("simhash"), "n_toks")


def test_simhash_kernel_matches_60sum_reference(spark):
    """The mapInArrow simhash kernel is bit-exact with the 60-sum
    aggregate on edge-case text: empty and whitespace-only documents
    (dropped), tabs/newlines, NBSP and em space (Java's \\s matches
    neither, so they stay inside a token), case-mapped Σ/İ/ß, emoji, CJK,
    a one-word document, duplicate ids (tokens merge), negative ids, a
    NULL id (one merged row, as GROUP BY keeps it) beside ids above 2^53
    (exact, not rounded through float64), and enough rows that a
    partition spans several 512-row Arrow batches."""
    import random

    planted = [
        (1, ""),
        (2, "  \t\n  "),
        (3, None),
        (4, "alpha\tbeta\ngamma  delta\r\nepsilon"),
        (5, "foo\u00a0bar baz\u00a0"),
        (6, "em\u2003space word em\u2003space"),
        (7, "ΣΑΣ σας İstanbul STRASSE straße ß"),
        (8, "emoji 😀 🤖👍 done 漢字 テスト 한국어"),
        (9, "lonely"),
        (10, "dup part one"),
        (10, "dup part two two"),
        (-3, "negative id text here"),
        (-4, "Negative ID text HERE"),
        (None, "null id words"),
        (None, "more null"),
    ]
    r = random.Random(5)
    vocab = [f"w{i}" for i in range(300)] + ["Σ", "ß", "漢", "😀"]
    # ~2400 rows over 4 shuffle partitions: every post-shuffle partition
    # holds more than 512 ids; every id is odd and above 2^53
    big = [2**53 + 1 + 2 * i for i in range(2400)]
    filler = [
        (big[i], " ".join(r.choice(vocab) for _ in range(r.randint(1, 40))))
        for i in range(2400)
    ]
    docs = spark.createDataFrame(planted + filler, "doc_id long, text string")
    got = {tuple(x) for x in dedup_ops.simhash(docs).collect()}
    want = {tuple(x) for x in _simhash_60sum(docs).collect()}
    assert got == want
    ids = {x[0] for x in got}
    assert not ids & {1, 2, 3}  # no token -> no row
    assert {4, 5, 6, 7, 8, 9, 10, -3, -4} <= ids
    n_toks = {x[0]: x[2] for x in got}
    assert n_toks[10] == 7 and n_toks[9] == 1
    assert n_toks[5] == 2  # NBSP is not a separator
    assert n_toks[None] == 5
    assert set(big) <= ids
