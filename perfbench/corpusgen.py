"""Seeded inputs of the corpus_churn workload, cut from the embeddings table:

  base_in/     ~90% of the vectors, drained into the maintainer at set-up
  arrivals_in/ the other ~10%, inserted in every pass
  fresh_in/    every vector but the delete set: the fresh drain the
               maintained lists must equal
  deletes.txt  ~10% of all ids, tombstoned in every pass
"""
import random
from pathlib import Path

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq


def generate(root, data, seed):
    root = Path(root)
    emb = pq.read_table(Path(data) / "embeddings.parquet")
    ids = sorted(emb["vec_id"].to_pylist())
    arrivals = random.Random(seed).sample(ids, len(ids) // 10)
    deletes = sorted(random.Random(seed + 1).sample(ids, len(ids) // 10))
    def among(xs):
        return pc.is_in(emb["vec_id"], value_set=pa.array(xs, pa.int64()))
    for name, rows in (("base_in", pc.invert(among(arrivals))),
                       ("arrivals_in", among(arrivals)),
                       ("fresh_in", pc.invert(among(deletes)))):
        (root / name).mkdir(parents=True)
        pq.write_table(emb.filter(rows), root / name / "part-0.parquet")
    (root / "deletes.txt").write_text("".join(f"{i}\n" for i in deletes))
    return {"deletes": deletes}
