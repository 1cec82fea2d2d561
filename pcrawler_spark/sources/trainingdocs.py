"""Deterministic synthetic training-doc corpus (bench.py's training pipeline).

Lives inside the package (not scripts/) so the mapInPandas closure below is
pickled by reference to a module every executor can import from the shipped
pyFiles zip — a closure defined in scripts/ is referenced by module name and
``ModuleNotFoundError``s on workers whose PYTHONPATH lacks scripts/ (the
exact failure BENCH_r06's bonus-start re-run hit on a cold .bench cache).

Doc text is a pure function of doc_id: ~55 tokens, with planted
exact-duplicate groups (20%) and near-duplicate 1-word edits (20%) so every
training-pipeline stage (quality gate → lang ID → fingerprint keep-min →
MinHash-LSH → connected components → canonical) does real work.
"""

from __future__ import annotations

_WORDS = ("the data engine reads a stream of pages and the tokens flow into "
          "shards while the quality gate keeps the clean text and the dedup "
          "stage drops a copy of every page it has seen before so the corpus "
          "stays small and the training run is fast and stable").split()


def _h(base: int, j: int) -> int:
    x = (base * 2654435761 + j * 40503 + 7) & 0xFFFFFFFF
    return x ^ (x >> 13)


def _doc_text(i: int) -> str:
    base = i % 5000
    # hashed per-(base, position) word choice: a rotation of one word list
    # would make ALL bases share ~90% of their 2-gram shingles (cyclic
    # adjacency is rotation-invariant) and LSH would full-mesh the corpus
    words = [_WORDS[_h(base, j) % len(_WORDS)] for j in range(50)]
    kind = i % 10
    if kind < 2 and i >= 5000:            # 20%: exact duplicate of an earlier doc
        pass
    elif kind < 4 and i >= 5000:          # 20%: near-duplicate (1-word edit)
        words[3] = f"tok{i % 97}"
    else:                                 # 60%: unique suffix
        words.append(f"unique{i}")
    return " ".join(words)


def _gen_batches(batches):
    import pandas as pd

    for b in batches:
        ids = b["id"].tolist()
        yield pd.DataFrame({"doc_id": ids, "text": [_doc_text(i) for i in ids]})


def generate_training_docs(spark, n_docs: int, num_partitions: int = 128):
    """Distributed generation (text is a pure function of doc_id); 128
    files keep several task waves at 16 cores (straggler ≪ wall)."""
    return spark.range(0, n_docs, numPartitions=num_partitions).mapInPandas(
        _gen_batches, "doc_id long, text string"
    )
