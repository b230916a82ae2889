"""Guards for the r12 scale-adaptive fan-out (io.fanout).

Hard-coded fan-out partition counts are config tuned for ONE box: the
driver benches at a lower core count (master local[$SPARK_GRAFT_CPUS]),
where a literal 32 means 32 small splits on fewer cores, and a real
cluster wants its own width.  Every explicit repartition fan-out must
route through ``io.fanout`` (result-invariant by the contract documented
on the helper); counts that DO feed results — bucketed-layout bucket
counts, versioned-table file counts, the stream feed's ntile — keep
their literals and are exempt below.
"""

from __future__ import annotations

import re
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "odc_product_docker_images_spark"


def test_fanout_tracks_default_parallelism(spark):
    from odc_product_docker_images_spark.io import fanout

    # a shuffle width of 1 is below defaultParallelism on any box, so the
    # r13 floor changes nothing here whatever the core count
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "1")
        assert fanout(spark) == spark.sparkContext.defaultParallelism
        df = spark.range(1)
        assert fanout(df) == spark.sparkContext.defaultParallelism
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_fanout_floors_at_shuffle_width(spark):
    """r13 (r12 ADVICE): under dynamic allocation defaultParallelism can
    reflect a nearly-empty cluster at plan-build time; the configured
    shuffle width is the floor.  Simulated by raising the conf above the
    local core count."""
    from odc_product_docker_images_spark.io import fanout

    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "123")
        assert fanout(spark) == max(spark.sparkContext.defaultParallelism, 123)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_no_literal_fanout_repartitions():
    """No operator module may reintroduce a literal wide repartition —
    fan-outs go through io.fanout.  Result-feeding literals (file
    layouts, bucket counts, stream ntile) are small (< 20) or live in
    exempted modules."""
    pat = re.compile(r"\.repartition(ByRange)?\(\s*(2[0-9]|[3-9][0-9]|\d{3,})\s*[,)]")
    bad = []
    for py in PKG.rglob("*.py"):
        for i, line in enumerate(py.read_text().splitlines(), 1):
            if pat.search(line):
                bad.append(f"{py.relative_to(PKG)}:{i}: {line.strip()}")
    assert not bad, bad
