"""Build and commit the persisted ANN index for a corpus.

Usage: python tools/build_ann_index.py [sf_dir] [store_dir]
  sf_dir    defaults to /root/testdata/sf0.1
  store_dir defaults to /tmp/spark_graft_ann_index

Afterwards, any session started with
  SPARK_GRAFT_ANN_INDEX_DIR=<store_dir>
loads the committed IVF/PQ/LSH index instead of re-training
(lakehouse/ann_index.py). Re-running refreshes the index as a new
commit on each component LakeTable.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lakehouse_architecture_transaction_spark.plans.ann import (  # noqa: E402
    build_persisted_ann_index,
)
from lakehouse_architecture_transaction_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    store = sys.argv[2] if len(sys.argv) > 2 else "/tmp/spark_graft_ann_index"
    spark = get_spark("ann-index-build", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    versions = build_persisted_ann_index(spark, sf_dir, store)
    for table, v in sorted(versions.items()):
        print(f"{table}: committed v{v}")
    print(f"store: {os.path.join(store, os.path.basename(os.path.normpath(sf_dir)))}")
    spark.stop()


if __name__ == "__main__":
    main()
