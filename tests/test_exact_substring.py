"""exact_substring_spans / exact_substring_removal vs a from-scratch
brute-force oracle (all O(n^2) substring occurrences, no hashing).

The operator claims EXACT suffix-array-dedup semantics (Lee et al. 2022):
a char is removed iff it lies in a substring of length >= L occurring at
>= 2 positions corpus-wide.  The oracle here literally enumerates every
length-L window and counts occurrences — independent of the Spark plan's
marking/merging formulation.
"""

from __future__ import annotations

from collections import Counter

import numpy as np
import pyarrow as pa
import pyspark.sql.functions as F
import pytest

from sourmash_spark.operators import dedup, docops
from sourmash_spark.operators.dedup import (
    exact_substring_removal,
    exact_substring_spans,
)


def _brute_row_spans(
    rows: list[tuple], L: int, keep: str = "all"
) -> list[list[tuple]]:
    """Spans of each (id, text) row: grams count over every row, each row
    is marked on its own text; keep-first exempts each gram's smallest
    (id, pos), NULL ids first."""
    occ = Counter()
    first: dict[str, tuple] = {}
    for d, t in rows:
        for i in range(len(t or "") - L + 1):
            g = t[i : i + L]
            occ[g] += 1
            at = (d is not None, d, i + 1)
            if g not in first or at < first[g]:
                first[g] = at
    out = []
    for d, t in rows:
        marked = [
            i + 1  # 1-based
            for i in range(len(t or "") - L + 1)
            if occ[t[i : i + L]] >= 2
            and not (
                keep == "first"
                and first[t[i : i + L]] == (d is not None, d, i + 1)
            )
        ]
        spans: list[list[int]] = []
        for p in marked:
            if spans and p <= spans[-1][1] + 1:
                spans[-1][1] = p + L - 1
            else:
                spans.append([p, p + L - 1])
        out.append([tuple(s) for s in spans])
    return out


def _brute_spans(
    texts: dict[int, str], L: int, keep: str = "all"
) -> dict[int, list[tuple]]:
    return dict(zip(texts, _brute_row_spans(list(texts.items()), L, keep)))


def _brute_removed(text: str, spans: list[tuple]) -> str:
    kept, pos = [], 1
    for s, e in spans:
        kept.append(text[pos - 1 : s - 1])
        pos = e + 1
    kept.append(text[pos - 1 :])
    return "".join(kept)


CORPUS = {
    0: "A" * 10 + "the quick brown fox jumps over the lazy dog" + "B" * 10,
    1: "C" * 7 + "the quick brown fox jumps over the lazy dog" + "D" * 13,
    2: "unique text with no repeats whatsoever here!",
    3: "XY" * 30,  # intra-doc repeat: 'XY'*k occurs at many offsets
    4: "",
    5: "short",
}


def _df(spark):
    return spark.createDataFrame(
        [(d, t) for d, t in CORPUS.items()], "doc_id long, text string"
    )


def test_spans_match_bruteforce(spark):
    L = 20
    want = {
        (d, s, e)
        for d, sp in _brute_spans(CORPUS, L).items()
        for (s, e) in sp
    }
    got = {
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in exact_substring_spans(_df(spark), min_len=L).collect()
    }
    assert got == want
    # sanity on the fixture itself: shared sentence found in docs 0+1,
    # intra-doc periodic repeat fully covered in doc 3, nothing elsewhere
    docs_hit = {d for d, _, _ in want}
    assert docs_hit == {0, 1, 3}
    d3 = [(s, e) for d, s, e in want if d == 3]
    assert d3 == [(1, 60)]


def test_removal_matches_bruteforce(spark):
    L = 20
    bspans = _brute_spans(CORPUS, L)
    rows = {
        r["doc_id"]: r
        for r in exact_substring_removal(_df(spark), min_len=L).collect()
    }
    assert set(rows) == set(CORPUS)
    for d, t in CORPUS.items():
        want_text = _brute_removed(t, bspans[d])
        r = rows[d]
        assert r["text_deduped"] == want_text, d
        assert r["n_spans"] == len(bspans[d])
        assert r["n_removed"] == sum(e - s + 1 for s, e in bspans[d])
        assert r["n_removed"] == len(t) - len(want_text)


def test_hash_and_string_paths_agree(spark):
    df = _df(spark)
    a = exact_substring_spans(df, min_len=12, hash_grams=True)
    b = exact_substring_spans(df, min_len=12, hash_grams=False)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_keep_first_matches_bruteforce(spark):
    """keep='first' leaves the globally-first copy unmarked: doc 0 keeps
    the shared sentence, doc 1 loses it; doc 3's periodic repeat keeps a
    prefix (the first L-window) and drops the rest."""
    L = 20
    want = {
        (d, s, e)
        for d, sp in _brute_spans(CORPUS, L, keep="first").items()
        for (s, e) in sp
    }
    got = {
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in exact_substring_spans(
            _df(spark), min_len=L, keep="first"
        ).collect()
    }
    assert got == want
    assert not any(d == 0 for d, _, _ in got)  # first copy untouched
    assert any(d == 1 for d, _, _ in got)

    rows = {
        r["doc_id"]: r
        for r in exact_substring_removal(
            _df(spark), min_len=L, keep="first"
        ).collect()
    }
    bspans = _brute_spans(CORPUS, L, keep="first")
    for d, t in CORPUS.items():
        assert rows[d]["text_deduped"] == _brute_removed(t, bspans[d]), d
    assert rows[0]["text_deduped"] == CORPUS[0]
    assert "quick brown fox" not in rows[1]["text_deduped"]


def test_property_random_corpora_match_bruteforce(spark):
    """Randomized corpora over a tiny alphabet (dup-dense by construction,
    so islands overlap and merge aggressively) + unicode chars to pin
    char-not-byte semantics; both keep policies vs the brute oracle."""
    import random

    rng = random.Random(7)
    alphabet = "abéλ"
    for trial in range(4):
        texts = {
            d: "".join(
                rng.choice(alphabet) for _ in range(rng.randrange(0, 60))
            )
            for d in range(8)
        }
        L = rng.choice([3, 5])
        df = spark.createDataFrame(
            list(texts.items()), "doc_id long, text string"
        )
        for keep in ("all", "first"):
            want = {
                (d, s, e)
                for d, sp in _brute_spans(texts, L, keep=keep).items()
                for (s, e) in sp
            }
            got = {
                (r["doc_id"], r["span_start"], r["span_end"])
                for r in exact_substring_spans(
                    df, min_len=L, keep=keep
                ).collect()
            }
            assert got == want, (trial, keep, L, texts)


def _brute_decontam_spans(
    texts: dict[int, str], bench: list[str], L: int
) -> dict[int, list[tuple]]:
    bgrams = {
        b[i : i + L] for b in bench for i in range(len(b) - L + 1)
    }
    out: dict[int, list[tuple]] = {}
    for d, t in texts.items():
        marked = [
            i + 1
            for i in range(len(t) - L + 1)
            if t[i : i + L] in bgrams
        ]
        spans: list[list[int]] = []
        for p in marked:
            if spans and p <= spans[-1][1] + 1:
                spans[-1][1] = p + L - 1
            else:
                spans.append([p, p + L - 1])
        out[d] = [tuple(s) for s in spans]
    return out


def test_decontaminate_spans_and_removal_match_bruteforce(spark):
    from sourmash_spark.operators.dedup import (
        decontaminate_removal,
        decontaminate_spans,
    )

    L = 20
    bench_texts = [
        "the quick brown fox jumps over the lazy dog",
        "XY" * 15,
    ]
    bench = spark.createDataFrame(
        [(t,) for t in bench_texts], "text string"
    )
    df = _df(spark)
    want = {
        (d, s, e)
        for d, sp in _brute_decontam_spans(CORPUS, bench_texts, L).items()
        for (s, e) in sp
    }
    for hg in (True, False):
        got = {
            (r["doc_id"], r["span_start"], r["span_end"])
            for r in decontaminate_spans(
                df, bench, min_len=L, hash_grams=hg
            ).collect()
        }
        assert got == want, hg
    # the benchmark sentence is located in BOTH corpus copies, and the
    # periodic bench doc contaminates doc 3 end-to-end
    assert {d for d, _, _ in want} == {0, 1, 3}

    bspans = _brute_decontam_spans(CORPUS, bench_texts, L)
    rows = {
        r["doc_id"]: r
        for r in decontaminate_removal(df, bench, min_len=L).collect()
    }
    for d, t in CORPUS.items():
        assert rows[d]["text_deduped"] == _brute_removed(t, bspans[d]), d
        assert rows[d]["n_removed"] == sum(
            e - s + 1 for s, e in bspans[d]
        )
    assert "quick brown fox" not in rows[0]["text_deduped"]
    assert rows[2]["text_deduped"] == CORPUS[2]  # clean doc untouched


def test_incremental_update_equals_full_keep_first(spark, tmp_path):
    """Three monotonically-id-ordered ingest batches through
    exact_substring_update == one from-scratch keep-first removal of the
    union — the incrementality theorem the operator documents."""
    from sourmash_spark.operators.dedup import exact_substring_update

    L = 20
    store = str(tmp_path / "gramstore")
    batches = [[0, 1], [2, 3], [4, 5]]
    got = {}
    for ids in batches:
        df = spark.createDataFrame(
            [(d, CORPUS[d]) for d in ids], "doc_id long, text string"
        )
        for r in exact_substring_update(df, store, min_len=L).collect():
            got[r["doc_id"]] = (
                r["n_spans"], r["n_removed"], r["text_deduped"]
            )
    want = {
        r["doc_id"]: (r["n_spans"], r["n_removed"], r["text_deduped"])
        for r in exact_substring_removal(
            _df(spark), min_len=L, keep="first"
        ).collect()
    }
    assert got == want
    # the store stayed globally distinct across increments
    import os

    incs = [d for d in os.listdir(store) if d.startswith("increment=")]
    assert len(incs) == 3
    keys = spark.read.parquet(
        *(os.path.join(store, d) for d in incs)
    )
    assert keys.count() == keys.distinct().count()
    # re-ingesting an already-stored batch marks it fully duplicated
    # against the store and appends nothing new
    df0 = spark.createDataFrame(
        [(99, CORPUS[0])], "doc_id long, text string"
    )
    r = exact_substring_update(df0, store, min_len=L).collect()[0]
    brute = _brute_spans({0: CORPUS[0], 99: CORPUS[0]}, L, keep="first")
    assert r["n_removed"] == sum(e - s + 1 for s, e in brute[99])
    inc3 = spark.read.schema("_k long").parquet(
        os.path.join(store, "increment=3")
    )
    assert inc3.count() == 0


def test_stream_substring_ingest_equals_batch(spark, tmp_path):
    """Two file-source arrival waves drained with availableNow through
    stream_substring_ingest == the from-scratch keep-first removal of
    everything ingested (same theorem as the batch incremental test,
    exercised through the Structured-Streaming face)."""
    from sourmash_spark.streaming.watch import stream_substring_ingest

    L = 20
    src = str(tmp_path / "arrivals")
    store = str(tmp_path / "gramstore")
    out = str(tmp_path / "deduped")
    ckpt = str(tmp_path / "ckpt")

    waves = [[0, 1, 2], [3, 4, 5]]
    for ids in waves:
        spark.createDataFrame(
            [(d, CORPUS[d]) for d in ids], "doc_id long, text string"
        ).write.mode("append").parquet(src)
        stream = spark.readStream.schema(
            "doc_id long, text string"
        ).parquet(src)
        q = stream_substring_ingest(stream, store, ckpt, out, min_len=L)
        q.awaitTermination(120)

    got = {
        r["doc_id"]: (r["n_spans"], r["n_removed"], r["text_deduped"])
        for r in spark.read.parquet(out).collect()
    }
    want = {
        r["doc_id"]: (r["n_spans"], r["n_removed"], r["text_deduped"])
        for r in exact_substring_removal(
            _df(spark), min_len=L, keep="first"
        ).collect()
    }
    assert got == want


def test_substring_streams_share_store_and_output(spark, tmp_path):
    """Two streams under different checkpoint dirs into one gram store and
    one output dir: the second stream's batch ids restart at 0, yet it
    stores and emits every document, with the same rows as a from-scratch
    keep-first removal; a replay within one stream is still skipped."""
    import os

    from sourmash_spark.streaming.watch import stream_substring_ingest

    L = 20
    store = str(tmp_path / "gramstore")
    out = str(tmp_path / "deduped")
    schema = "doc_id long, text string"

    def drain(name, ids):
        src = str(tmp_path / f"src_{name}")
        ckpt = str(tmp_path / f"ckpt_{name}")
        if ids:
            spark.createDataFrame(
                [(d, CORPUS[d]) for d in ids], schema
            ).write.mode("append").parquet(src)
        stream = spark.readStream.schema(schema).parquet(src)
        stream_substring_ingest(stream, store, ckpt, out, min_len=L) \
            .awaitTermination(120)
        return ckpt

    drain("a", [0, 1, 2])
    ckpt_b = drain("b", [3, 4, 5])

    def rows():
        return {
            r["doc_id"]: (r["n_spans"], r["n_removed"], r["text_deduped"])
            for r in spark.read.parquet(out).collect()
        }

    def files():
        return sorted(
            os.path.join(d, f) for d, _, fs in os.walk(out) for f in fs
        ), sorted(os.listdir(store))

    want = {
        r["doc_id"]: (r["n_spans"], r["n_removed"], r["text_deduped"])
        for r in exact_substring_removal(
            _df(spark), min_len=L, keep="first"
        ).collect()
    }
    got = rows()
    assert got == want and set(got) == set(CORPUS)
    assert len([d for d in os.listdir(store)
                if d.startswith("increment=")]) == 2

    # stream b's batch replays (its commit is lost): nothing is rewritten
    before = files()
    for f in ("0", ".0.crc"):
        os.remove(os.path.join(ckpt_b, "commits", f))
    drain("b", [])
    assert files() == before
    assert rows() == want


def test_min_len_longer_than_every_doc_is_empty(spark):
    df = _df(spark)
    assert exact_substring_spans(df, min_len=500).count() == 0
    out = {
        r["doc_id"]: r for r in exact_substring_removal(df, 500).collect()
    }
    for d, t in CORPUS.items():
        assert out[d]["text_deduped"] == t
        assert out[d]["n_spans"] == 0 and out[d]["n_removed"] == 0


SHARED = "the quick brown fox jumps over the lazy dog"


def _row_results(spark, rows, id_type, L, keep):
    """(spans, removal) of `rows`: the (id, start, end) span rows and the
    removal output rows, each as a list sorted by repr."""
    df = spark.createDataFrame(rows, f"doc_id {id_type}, text string")
    spans = sorted(
        (tuple(r) for r in exact_substring_spans(df, min_len=L, keep=keep)
         .collect()),
        key=repr,
    )
    cut = sorted(
        (tuple(r) for r in exact_substring_removal(df, min_len=L, keep=keep)
         .collect()),
        key=repr,
    )
    return spans, cut


def _brute_results(rows, L, keep):
    bspans = _brute_row_spans(rows, L, keep)
    spans = sorted(
        ((d, s, e) for (d, _), sp in zip(rows, bspans) for s, e in sp),
        key=repr,
    )
    cut = sorted(
        (
            (d, len(sp), sum(e - s + 1 for s, e in sp),
             None if t is None else _brute_removed(t, sp))
            for (d, t), sp in zip(rows, bspans)
        ),
        key=repr,
    )
    return spans, cut


def test_rows_are_marked_and_cut_on_their_own_text(spark):
    """A NULL id, an id repeated with identical text and an id repeated
    with different text: each row is marked and cut on its own text (the
    grams still count over all rows), and a NULL text stays NULL."""
    rows = [
        (None, "A" * 5 + SHARED + "B" * 5),  # NULL id: its copy is cut
        (1, "C" * 3 + SHARED),
        (2, "twice under one id, word for word"),
        (2, "twice under one id, word for word"),
        (3, "D" * 4 + SHARED + "E" * 9),  # shares SHARED ...
        (3, "nothing here repeats anywhere else in this"),  # ... this not
        (4, None),
    ]
    got = _row_results(spark, rows, "long", 20, "all")
    assert got == _brute_results(rows, 20, "all")
    cut = {(r[0], r[3]) for r in got[1]}
    assert (None, "A" * 5 + "B" * 5) in cut
    assert (2, "") in cut
    assert (3, rows[5][1]) in cut and (3, "D" * 4 + "E" * 9) in cut
    assert (4, 0, 0, None) in got[1]


def test_keep_first_orders_string_ids_as_spark(spark):
    """keep='first' keeps the copy at the smallest (id, pos): string ids
    compare bytewise ('Z' < 'a' < 'b' < 'é'), and a NULL id comes first."""
    rows = [
        ("b", "x" + SHARED),
        ("a", "yy" + SHARED),
        ("Z", SHARED + "zzz"),
        ("é", SHARED),
        ("a", "no copy of anything in this row at all!"),
    ]
    got = _row_results(spark, rows, "string", 20, "first")
    assert got == _brute_results(rows, 20, "first")
    kept = {r[0]: r[3] for r in got[1] if r[2] == 0}
    assert kept["Z"] == SHARED + "zzz"
    with_null = rows + [(None, "w" + SHARED)]
    got = _row_results(spark, with_null, "string", 20, "first")
    assert got == _brute_results(with_null, 20, "first")
    assert (None, 0, 0, "w" + SHARED) in got[1]


@pytest.mark.parametrize("L", [1, 7, 8, 31, 32, 33, 40])
def test_gram_hashes_equal_spark_xxhash64(spark, L):
    """The kernels' numpy XXH64 of every L-code-point window equals
    Spark's xxhash64 of docops.char_shingles, across the 8-byte lane and
    32-byte stripe edges, on 1- to 4-byte UTF-8 text."""
    import random

    rng = random.Random(L)
    alphabet = "ab \x00é€λ𝄞"
    texts = [
        "".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 90)))
        for _ in range(12)
    ] + [None, "", "x" * L]
    df = spark.createDataFrame(list(enumerate(texts)), "id long, text string")
    want = {
        tuple(r)
        for r in df.select(
            "id",
            F.posexplode(docops.char_shingles(F.col("text"), L)).alias(
                "p", "g"
            ),
        ).select("id", (F.col("p") + 1).alias("pos"), F.xxhash64("g"))
        .collect()
    }
    lay = docops.utf8_rows(pa.array(texts, pa.string()))
    got = set()
    for row, j, start, nb in docops.gram_windows(lay, L, 64):
        h = docops.gram_hashes(lay[0], start, nb)
        pos = j - lay[3][row] + 1
        got |= set(zip(row.tolist(), pos.tolist(), h.tolist()))
    assert got == want and want


def test_hot_gram_is_one_entry_per_batch(spark):
    """A 40-char boilerplate line in every document, over many Arrow
    batches: the bucket rows hold it at most once per batch (so no task
    is sized by its occurrences), and the spans equal the brute force."""
    hot = "Copyright (c) Example Corp. All rights."
    hot += "!" * (40 - len(hot))
    rows = [(d, f"doc {d * 7919} {hot} end {d}") for d in range(120)]
    docs = spark.createDataFrame(rows, "doc_id long, text string") \
        .repartition(3)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "8")
    try:
        payloads = dedup._gram_counts(docs, 40, "text", True).collect()
        got = sorted(map(tuple, exact_substring_spans(docs, 40).collect()))
    finally:
        spark.conf.set(key, old)
    h = docops.gram_hashes(
        np.frombuffer(hot.encode(), np.uint8), np.array([0]), np.array([40])
    )[0]
    per_row = [
        dedup._unipc(bytes(r["_p"])).column("_k").to_pylist().count(int(h))
        for r in payloads
    ]
    assert max(per_row) == 1
    assert 120 // 8 <= sum(per_row) <= 120 // 8 + 3  # one per batch
    want = sorted(
        (d, s, e)
        for (d, _), sp in zip(rows, _brute_row_spans(rows, 40))
        for s, e in sp
    )
    assert got == want and len(want) == 120


@pytest.mark.parametrize("P", [4, 7, 200])
def test_buckets_map_one_to_one_onto_partitions(spark, P):
    """repartition(P, "_b") sends bucket p's rows to partition p alone."""
    keys = dedup._partition_keys(P)
    df = spark.createDataFrame([(int(v),) for v in keys], "b int")
    got = [r[0] for r in df.select(F.expr(f"pmod(hash(b), {P})")).collect()]
    assert got == list(range(P))


def test_duplicate_set_bound_raises(spark):
    """A duplicated-key set over spark.sql.autoBroadcastJoinThreshold
    raises before anything is broadcast, naming its size."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "16")
    try:
        with pytest.raises(ValueError, match="keys.*bytes.*exact_substring_update"):
            exact_substring_spans(_df(spark), min_len=20)
    finally:
        spark.conf.set(key, old)
    assert exact_substring_spans(_df(spark), min_len=20).count() > 0


def test_window_chunks_do_not_change_results(spark, monkeypatch):
    """Windows hashed and looked up a few at a time (chunks that split
    rows and multi-byte characters) give the brute-force spans and cuts
    under both keep policies and both key kinds."""
    import random

    monkeypatch.setattr(dedup, "_WINDOW_CHUNK", 7)
    rng = random.Random(11)
    texts = {
        d: "".join(rng.choice("abλ𝄞") for _ in range(rng.randrange(0, 40)))
        for d in range(10)
    }
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    for keep in ("all", "first"):
        bspans = _brute_spans(texts, 4, keep)
        for hg in (True, False):
            got = {
                tuple(r) for r in exact_substring_spans(
                    df, min_len=4, keep=keep, hash_grams=hg
                ).collect()
            }
            assert got == {
                (d, s, e) for d, sp in bspans.items() for s, e in sp
            }, (keep, hg)
        cut = {
            r["doc_id"]: r["text_deduped"]
            for r in exact_substring_removal(df, 4, keep=keep).collect()
        }
        assert cut == {
            d: _brute_removed(t, bspans[d]) for d, t in texts.items()
        }, keep
