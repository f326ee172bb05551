"""Seeded benchmark inputs, their reference outputs, and the on-disk cache.

Everything a workload reads is made from ``--seed`` and cached under
``perfbench/.cache/<workload>/<size>-<parameters>/seed-<n>/``; a directory counts as
complete once its ``DONE`` marker exists.  References are computed once per
seed, in a child process, so the measured process never pays for them:
an exact numpy all-pairs Jaccard for the pipeline and the DuckDB gate
oracles for the document operators.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
CACHE = os.path.join(HERE, ".cache")
WORK = os.path.join(HERE, ".work")

# Sizes per workload.  "full" is the benchmark's size; "tiny" is the
# smoke-test size.  See README.md for the wall times they give.
SIZES = {
    "pipeline_ingest": {
        "full": {"n_base": 100, "n_increments": 1, "inc_files": 50},
        "tiny": {"n_base": 12, "n_increments": 1, "inc_files": 6},
    },
    "doc_dedup_ops": {
        "full": {"n_docs": 2000, "n_embs": 1800},
        "tiny": {"n_docs": 150, "n_embs": 200},
    },
}

EMB_DIM = 64
PERTURB_COPIES = 50


def cache_dir(workload: str, size: str, seed: int) -> str:
    """Keyed by the size parameters too, so editing SIZES never reuses
    inputs made at another size."""
    params = "-".join(f"{k}{v}" for k, v in sorted(SIZES[workload][size].items()))
    return os.path.join(CACHE, workload, f"{size}-{params}", f"seed-{seed}")


def is_ready(path: str) -> bool:
    return os.path.exists(os.path.join(path, "DONE"))


def write_parquet(df: pd.DataFrame, path: str, schema: pa.Schema | None = None) -> None:
    table = pa.Table.from_pandas(df, schema=schema, preserve_index=False)
    pq.write_table(table, path)


def read_dir(path: str) -> pd.DataFrame:
    """A Spark output directory (or single file) read with pyarrow."""
    return pq.read_table(path).to_pandas()


# -- pipeline_ingest --------------------------------------------------------

def pipeline_config():
    """jobs/dedup_job.py's defaults: k21, scaled 50, 16x2 bands, J>=0.5,
    bucket_cap 500."""
    from sourmash_spark.params import LSHParams, SketchParams
    from sourmash_spark.pipeline import PipelineConfig

    return PipelineConfig(
        sketch=SketchParams(ksize=21, scaled=50),
        lsh=LSHParams(num_bands=16, band_size=2),
        jaccard_threshold=0.5,
        bucket_cap=500,
    )


def make_code_files(n_base: int, n_increments: int, inc_files: int, seed: int):
    """(base, [increment frames], digests).  The increments are held-out
    near-duplicate variants of base families, so every increment adds
    edges to existing clusters."""
    from sourmash_spark.synth import synth_code_files

    corpus = synth_code_files(n_base=n_base, seed=seed)
    files = corpus.code_files.rename(columns={"file_id": "sig_id"})
    rng = np.random.default_rng(seed + 7919)
    variants = files.index[~files["path"].str.contains("/base_")].to_numpy()
    held = rng.choice(variants, size=n_increments * inc_files, replace=False)
    incs = [
        files.loc[np.sort(held[i * inc_files:(i + 1) * inc_files])]
        .reset_index(drop=True)
        for i in range(n_increments)
    ]
    base = files.drop(index=held).reset_index(drop=True)
    digests = corpus.digests.rename(columns={"file_id": "sig_id"})
    return base, incs, digests


def all_pairs_jaccard(sig_ids: np.ndarray, contents, sketch, threshold: float) -> pd.DataFrame:
    """Exact all-pairs reference: (sig_id_a < sig_id_b) with Jaccard of
    their FracMinHash sketches >= threshold, by an in-memory inverted
    index over the sketches' hashes.  Independent of the Spark plans it
    checks; only the per-document hashing is shared."""
    from sourmash_spark.sketch import batch_sketch

    order = np.argsort(sig_ids, kind="stable")
    ids = np.asarray(sig_ids)[order]
    sketches = batch_sketch(pd.Series(list(contents)).iloc[order], sketch)
    sizes = np.array([h.size for h, _ in sketches], dtype=np.int64)
    n = len(ids)
    doc = np.repeat(np.arange(n, dtype=np.int64), sizes)
    hashes = np.concatenate([h for h, _ in sketches]) if n else np.zeros(0, np.uint64)
    o = np.lexsort((doc, hashes))
    hashes, doc = hashes[o], doc[o]
    starts = np.flatnonzero(np.r_[True, hashes[1:] != hashes[:-1]]) if len(hashes) else np.zeros(0, int)
    counts = np.diff(np.r_[starts, len(hashes)])
    keys = []
    for s0, c in zip(starts[counts > 1], counts[counts > 1]):
        g = doc[s0:s0 + c]
        i, j = np.triu_indices(c, 1)
        keys.append(g[i] * n + g[j])
    empty = pd.DataFrame({"sig_id_a": ids[:0], "sig_id_b": ids[:0]})
    if not keys:
        return empty
    pair, inter = np.unique(np.concatenate(keys), return_counts=True)
    a, b = pair // n, pair % n
    union = sizes[a] + sizes[b] - inter
    keep = (union > 0) & (inter / np.maximum(union, 1) >= threshold)
    return pd.DataFrame({"sig_id_a": ids[a[keep]], "sig_id_b": ids[b[keep]]})


def prepare_pipeline(path: str, sizes: dict, seed: int) -> None:
    base, incs, digests = make_code_files(seed=seed, **sizes)
    write_parquet(base, os.path.join(path, "base.parquet"))
    for i, inc in enumerate(incs):
        write_parquet(inc, os.path.join(path, f"inc{i}.parquet"))
    write_parquet(digests, os.path.join(path, "digests.parquet"))
    cfg = pipeline_config()
    for name, files in (("ref_pairs", base), ("ref_pairs_all", pd.concat([base, *incs]))):
        ref = all_pairs_jaccard(
            files["sig_id"].to_numpy(), files["content"], cfg.sketch,
            cfg.jaccard_threshold,
        )
        write_parquet(ref, os.path.join(path, f"{name}.parquet"))


# -- doc_dedup_ops ----------------------------------------------------------

# The repository's sf0.1 test documents and embeddings (doc_id/text and
# vec_id/embedding columns only), copied into the benchmark so that a run
# reads nothing outside its checkout.
DATA = os.path.join(HERE, "data")
DOCS_SRC = os.path.join(DATA, "sf0.1-documents.parquet")
EMBS_SRC = os.path.join(DATA, "sf0.1-embeddings.parquet")


def sample_documents(n_docs: int, seed: int) -> pd.DataFrame:
    """A seeded subset of n_docs sf0.1 documents, in doc_id order."""
    docs = read_dir(DOCS_SRC)
    rng = np.random.default_rng(seed)
    keep = np.sort(rng.choice(len(docs), size=n_docs, replace=False))
    return docs.iloc[keep].reset_index(drop=True)


def sample_embeddings(n_embs: int, seed: int) -> pd.DataFrame:
    """A seeded subset of n_embs sf0.1 embeddings.  The vectors with
    vec_id < PERTURB_COPIES are always kept: perturb_copies copies them
    and semantic_dedup seeds its cells from them, so every seed plants
    the same duplicates and the same cells."""
    embs = read_dir(EMBS_SRC)
    fixed = np.flatnonzero(embs["vec_id"].to_numpy() < PERTURB_COPIES)
    rest = np.setdiff1d(np.arange(len(embs)), fixed)
    rng = np.random.default_rng(seed + 104729)
    pick = rng.choice(rest, size=n_embs - len(fixed), replace=False)
    keep = np.sort(np.concatenate([fixed, pick]))
    return embs.iloc[keep].reset_index(drop=True)


EMB_SCHEMA = pa.schema(
    [("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32()))]
)


def semantic_cells(n_embs: int) -> int:
    """n_cells = N/128 over the perturbed table (floor 16), as bench.py."""
    return max(16, (n_embs + PERTURB_COPIES) // 128)


def doc_oracles(docs_path: str, embs_path: str, n_cells: int) -> dict[str, pd.DataFrame]:
    """DuckDB oracle of each operator: the gates simhash_near_pairs,
    dedup_substring_cut and emb_semantic_dedup of __spark_entry__."""
    import duckdb

    import __spark_entry__ as entry

    sql = entry.oracle_sql()
    sem = sql["emb_semantic_dedup"]
    cells_clause = "FROM aug WHERE vec_id < 16"
    if sem.count(cells_clause) != 1:
        raise RuntimeError("emb_semantic_dedup oracle changed shape")
    sem = sem.replace(cells_clause, f"FROM aug WHERE vec_id < {n_cells}")
    con = duckdb.connect()
    try:
        con.sql(f"CREATE VIEW documents AS SELECT * FROM '{docs_path}'")
        con.sql(f"CREATE VIEW embeddings AS SELECT * FROM '{embs_path}'")
        return {
            "simhash_pairs": con.sql(sql["simhash_near_pairs"]).df(),
            "exact_substring_removal": con.sql(sql["dedup_substring_cut"]).df(),
            "semantic_dedup": con.sql(sem).df(),
        }
    finally:
        con.close()


def prepare_docs(path: str, sizes: dict, seed: int) -> None:
    docs_path = os.path.join(path, "documents.parquet")
    embs_path = os.path.join(path, "embeddings.parquet")
    write_parquet(sample_documents(sizes["n_docs"], seed), docs_path)
    write_parquet(sample_embeddings(sizes["n_embs"], seed), embs_path, EMB_SCHEMA)
    oracles = doc_oracles(docs_path, embs_path, semantic_cells(sizes["n_embs"]))
    for name, df in oracles.items():
        write_parquet(df, os.path.join(path, f"oracle_{name}.parquet"))


def prepare(workload: str, size: str, seed: int) -> str:
    """Build the cache entry for (workload, size, seed) unless complete."""
    path = cache_dir(workload, size, seed)
    if is_ready(path):
        return path
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    sizes = SIZES[workload][size]
    if workload == "pipeline_ingest":
        prepare_pipeline(tmp, sizes, seed)
    else:
        prepare_docs(tmp, sizes, seed)
    with open(os.path.join(tmp, "DONE"), "w") as f:
        f.write("ok\n")
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    return path
