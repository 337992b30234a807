"""A/B the merge kernel's provenance list-union term (round-6 VERDICT #4).

Isolates the array-union aggregation over a canonical snapshot and times
four formulations at one parallelism, interleaved in one JVM:

  kept      groupBy(s,p,o) agg array_sort(array_distinct(filter(flatten(
            collect_list(provided_by)))))  — the shipped ObjectHashAggregate
  twolevel  explode_outer -> groupBy(s,p,o,prov) [map-side distinct]
            -> groupBy(s,p,o) collect_list  — shuffles scalar rows, 2 exchanges
  explode1  explode_outer -> groupBy(s,p,o) array_sort(array_distinct(
            collect_list(prov)))  — scalar shuffle, 1 exchange
  dictenc   provenance strings -> xxhash64 codes, kept-form agg over codes,
            decode via join  (timing probe for narrow-type state; hash codes
            stand in for a real dictionary)

Usage: python scripts/probe_merge_formulations.py <master> <canonical_parquet> [loops]
Prints one JSON line with per-formulation walls + per-loop steal cores.
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402


def cpu_counters() -> list[int]:
    with open("/proc/stat") as fh:
        return list(map(int, fh.readline().split()[1:]))


def main() -> None:
    master = sys.argv[1]
    canonical = sys.argv[2]
    loops = int(sys.argv[3]) if len(sys.argv) > 3 else 3

    from kgx_spark.session import get_spark

    n = int(master.split("[")[1].rstrip("]")) if "[" in master else 16
    spark = get_spark("merge-formulations", master=master, shuffle_partitions=n)
    canon = spark.read.parquet(canonical).select("subject", "predicate", "object", "provided_by")
    # warm the page cache with every column the formulations read (a
    # count() would prune them all)
    canon.write.format("noop").mode("overwrite").save()
    rows = canon.count()
    key = ["subject", "predicate", "object"]

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    def kept():
        flat = F.flatten(F.collect_list("provided_by"))
        noop(canon.groupBy(*key).agg(
            F.array_sort(F.array_distinct(F.filter(flat, lambda x: x.isNotNull()))).alias("provided_by")
        ))

    ex = canon.select(*key, F.explode_outer("provided_by").alias("_prov"))

    def twolevel():
        lvl1 = ex.groupBy(*key, "_prov").agg(F.lit(1).alias("_one"))
        noop(lvl1.groupBy(*key).agg(
            F.array_sort(F.filter(F.collect_list("_prov"), lambda x: x.isNotNull())).alias("provided_by")
        ))

    def explode1():
        noop(ex.groupBy(*key).agg(
            F.array_sort(F.array_distinct(F.filter(F.collect_list("_prov"), lambda x: x.isNotNull()))).alias("provided_by")
        ))

    def dictenc():
        coded = canon.select(
            *key, F.transform("provided_by", lambda x: F.xxhash64(x)).alias("_codes")
        )
        flat = F.flatten(F.collect_list("_codes"))
        agg = coded.groupBy(*key).agg(F.array_distinct(flat).alias("_codes"))
        dict_df = canon.select(F.explode_outer("provided_by").alias("_prov")).where(
            F.col("_prov").isNotNull()
        ).distinct().select(F.col("_prov"), F.xxhash64("_prov").alias("_code"))
        decoded = (
            agg.select(*key, F.explode_outer("_codes").alias("_code"))
            .join(dict_df, "_code", "left")
            .groupBy(*key)
            .agg(F.array_sort(F.filter(F.collect_list("_prov"), lambda x: x.isNotNull())).alias("provided_by"))
        )
        noop(decoded)

    def explodeset():
        noop(ex.groupBy(*key).agg(F.array_sort(F.collect_set("_prov")).alias("provided_by")))

    forms = {
        "kept": kept,
        "twolevel": twolevel,
        "explode1": explode1,
        "explodeset": explodeset,
        "dictenc": dictenc,
    }
    walls: dict[str, list[float]] = {k: [] for k in forms}
    steals: dict[str, list[float]] = {k: [] for k in forms}
    for _ in range(loops):
        for name, fn in forms.items():
            a = cpu_counters()
            t0 = time.monotonic()
            fn()
            walls[name].append(round(time.monotonic() - t0, 2))
            b = cpu_counters()
            d = [y - x for x, y in zip(a, b)]
            steals[name].append(round(n * d[7] / max(sum(d), 1), 2))
    print(json.dumps({"master": master, "rows": rows, "walls": walls, "steals": steals}))


if __name__ == "__main__":
    main()
