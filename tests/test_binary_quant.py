"""Binary (sign) quantization guards (`pipeline/similarity.py`):
packing parity against an independent NumPy bitmap, and Hamming
ranking determinism. Value correctness vs DuckDB is owned by the
registry oracle (`embedding_binary_quant_recall`)."""

from __future__ import annotations

import numpy as np

from .conftest import SF_DIR_SMALL


def _emb(spark):
    return spark.read.parquet(f"{SF_DIR_SMALL}/embeddings.parquet")


def test_packed_words_match_numpy_bitmap(spark):
    from xsarsea_spark.pipeline.similarity import binary_quantize

    emb = _emb(spark).filter("vec_id < 50")
    got = {r["vec_id"]: (r["w0"], r["w1"])
           for r in binary_quantize(emb).collect()}
    for r in emb.select("vec_id", "embedding").collect():
        v = np.asarray(r["embedding"], dtype=np.float32)
        bits = (v > 0).astype(np.uint64)
        w0 = int((bits[:32] << np.arange(32, dtype=np.uint64)).sum())
        w1 = int((bits[32:] << np.arange(32, dtype=np.uint64)).sum())
        assert got[r["vec_id"]] == (w0, w1)


def test_hamming_topk_matches_numpy(spark):
    from xsarsea_spark.pipeline.similarity import hamming_topk

    emb = _emb(spark)
    got = hamming_topk(emb.filter("vec_id < 10"), emb).collect()
    by_q: dict[int, list] = {}
    for r in sorted(got, key=lambda r: (r["query_id"], r["rank"])):
        by_q.setdefault(r["query_id"], []).append(
            (r["neighbor_id"], r["hamming"]))
    rows = sorted(emb.select("vec_id", "embedding").collect(),
                  key=lambda r: r["vec_id"])
    ids = np.array([r["vec_id"] for r in rows])
    bits = np.stack([np.asarray(r["embedding"], dtype=np.float32) > 0
                     for r in rows])
    assert len(by_q) == 10
    for qid, nbrs in by_q.items():
        qi = int(np.where(ids == qid)[0][0])
        ham = (bits ^ bits[qi]).sum(axis=1)
        order = np.lexsort((ids, ham))
        want = [(int(ids[j]), int(ham[j])) for j in order
                if ids[j] != qid][:5]
        assert nbrs == want
