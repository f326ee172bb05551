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

from sourmash_spark.operators.dedup import (
    exact_substring_removal,
    exact_substring_spans,
)


def _brute_spans(
    texts: dict[int, str], L: int, keep: str = "all"
) -> dict[int, list[tuple]]:
    occ = Counter()
    first: dict[str, tuple] = {}
    for d in sorted(texts):
        t = texts[d]
        for i in range(len(t) - L + 1):
            g = t[i : i + L]
            occ[g] += 1
            first.setdefault(g, (d, i + 1))
    out: dict[int, list[tuple]] = {}
    for d, t in texts.items():
        marked = [
            i + 1  # 1-based
            for i in range(len(t) - L + 1)
            if occ[t[i : i + L]] >= 2
            and not (keep == "first" and first[t[i : i + L]] == (d, i + 1))
        ]
        spans: list[list[int]] = []
        for p in marked:
            if spans and p <= spans[-1][1] + 1:
                spans[-1][1] = p + L - 1
            else:
                spans.append([p, p + L - 1])
        out[d] = [tuple(s) for s in spans]
    return out


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
