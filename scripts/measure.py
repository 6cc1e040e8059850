"""Measure named WORKLOAD entries the way bench.py runs them.

Each selected entry runs ``fn`` then ``count`` for N passes, after the
bench's warm-up (the same entries once at sf0.001) and its members-cache
prime.  Per entry it prints the median build time (the ``fn`` call:
DataFrame construction plus any eager side jobs), the median count
time, the row count and the executed plan's join strategies
(``plans.join_strategies``).  The data directory is
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1), as for bench.py.

    python scripts/measure.py                      # the bench headline set
    python scripts/measure.py cube_ tpch_q5        # entries matching any filter
    python scripts/measure.py --passes 1 all       # every entry, one pass
    python scripts/measure.py --plans plans/out cube_nation_sales
    python scripts/measure.py --replica 10 /tmp/rep cube_   # ~sf1

FILTER arguments are substrings of entry names; with none, the
``bench.HEADLINE`` entries run.  The literal ``all`` runs every entry.
A failing entry is reported and counted, the run goes on, and the exit
code is 1 if any entry failed.

``--plans DIR`` writes each entry's ``explain("formatted")`` to
``DIR/<entry>.txt``.

``--replica N DIR`` first builds an N-fold replica of the data
directory in DIR and measures there; a DIR that already holds the same
replica is reused.  Fact and bridge tables are copied N times with
their keys shifted apart, so join cardinalities grow like real data;
closed dimension tables are copied as they are; ``events`` is written
as one file, which the streaming entries' ``pathGlobFilter`` expects;
``embeddings`` becomes N perturbed replicas of every vector, so each
vector has a known family of near-duplicates.  Warning:
``emb_semantic_dedup_pairs`` goes quadratic on the perturbed replica —
each cell's self-join meets N near-identical vectors per family, and at
N=10 it spilled until the disk filled.  Leave it out of replica runs.
"""
from __future__ import annotations

import argparse
import contextlib
import io
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

WARMUP_SF_DIR = "/root/testdata/sf0.001"
KEY_SPAN = 100_000_000          # far above any sf0.1 key
# fact/bridge tables get shifted keys per copy; closed dimension tables
# (joined by every copy) are copied as they are
KEYED = {
    "lineitem": ["l_orderkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "customer": ["c_custkey"],
    "documents": ["doc_id"],
    "events": ["event_id", "user_id"],
}
ASIS = ["region", "nation", "supplier", "part"]
EPS = 0.03                      # embedding perturbation per component


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(
        description="Time WORKLOAD entries bench-style (fn, then count).")
    ap.add_argument("filters", nargs="*",
                    help="substrings of entry names; 'all' runs every "
                         "entry; none runs the bench headline set")
    ap.add_argument("--passes", type=int, default=3)
    ap.add_argument("--plans", metavar="DIR",
                    help="write each entry's formatted explain here")
    ap.add_argument("--replica", nargs=2, metavar=("N", "DIR"),
                    help="build an N-fold key-shifted replica in DIR "
                         "and measure there")
    return ap.parse_args(argv)


def select(filters: list[str]) -> list[str]:
    from bench import HEADLINE
    from olap_xtrctr_spark.workload import WORKLOAD
    if not filters:
        return list(HEADLINE)
    if filters == ["all"]:
        return list(WORKLOAD)
    return [n for n in WORKLOAD if any(f in n for f in filters)]


def build_replica(spark, src: str, factor: int, dst: str) -> None:
    from pyspark.sql import functions as F

    marker = os.path.join(dst, "_REPLICA")
    stamp = f"{factor}x {os.path.abspath(src)}"
    if os.path.exists(marker):
        with open(marker) as f:
            if f.read() == stamp:
                print(f"# reusing replica {dst}", file=sys.stderr)
                return
    elif os.path.isdir(dst) and os.listdir(dst):
        raise SystemExit(f"{dst} is not empty and holds no replica")
    shutil.rmtree(dst, ignore_errors=True)
    os.makedirs(dst)
    for t in ASIS:
        shutil.copy(f"{src}/{t}.parquet", f"{dst}/{t}.parquet")
    for t, keys in KEYED.items():
        df = spark.read.parquet(f"{src}/{t}.parquet")
        out = df
        for i in range(1, factor):
            out = out.unionByName(df.select(*[
                (F.col(c) + F.lit(i * KEY_SPAN)).alias(c) if c in keys
                else F.col(c) for c in df.columns]))
        if t == "events":
            tmp = f"{dst}/_events_tmp"
            out.coalesce(1).write.mode("overwrite").parquet(tmp)
            part = next(f for f in os.listdir(tmp)
                        if f.startswith("part-") and f.endswith(".parquet"))
            shutil.move(f"{tmp}/{part}", f"{dst}/events.parquet")
            shutil.rmtree(tmp)
        else:
            out.write.mode("overwrite").parquet(f"{dst}/{t}.parquet")
    # replica k of vector v = v + EPS * noise(v, k, i), deterministic
    base = spark.read.parquet(f"{src}/embeddings.parquet")
    shift = base.agg(F.max("vec_id")).first()[0] + 1

    def perturbed(k: int):
        return F.transform("embedding", lambda x, i: x + F.lit(EPS) * (
            (F.xxhash64(F.col("vec_id"), F.lit(k), i) % 2001 - 1000)
            / F.lit(1000.0)).cast("float"))
    out = base
    for k in range(1, factor):
        out = out.unionByName(base.select(
            (F.col("vec_id") + k * shift).alias("vec_id"),
            perturbed(k).alias("embedding"), "label"))
    out.write.mode("overwrite").parquet(f"{dst}/embeddings.parquet")
    with open(marker, "w") as f:
        f.write(stamp)
    print(f"# built {factor}x replica of {src} in {dst}", file=sys.stderr)


def formatted_plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    from olap_xtrctr_spark import get_spark
    from olap_xtrctr_spark.cube import sales_cube
    from olap_xtrctr_spark.metadata import cached_members_df
    from olap_xtrctr_spark.plans import join_strategies
    from olap_xtrctr_spark.session import release_tracked_caches
    from olap_xtrctr_spark.workload import WORKLOAD

    names = select(args.filters)
    if not names:
        raise SystemExit(f"no entry matches {args.filters}")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("measure")
    spark.sparkContext.setLogLevel("ERROR")
    if args.replica:
        build_replica(spark, sf_dir, int(args.replica[0]), args.replica[1])
        sf_dir = args.replica[1]
    if args.plans:
        os.makedirs(args.plans, exist_ok=True)

    spark.range(1).count()
    for name in names:
        try:
            WORKLOAD[name].fn(spark, WARMUP_SF_DIR).count()
        except Exception as exc:
            print(f"# warmup {name} failed: {exc}", file=sys.stderr)
        release_tracked_caches()
    try:
        cached_members_df(spark, sales_cube(), sf_dir).count()
    except Exception as exc:
        print(f"# members-cache prime failed: {exc}", file=sys.stderr)

    def med(xs: list[float]) -> float:
        return sorted(xs)[len(xs) // 2]

    failed: list[str] = []
    total = 0.0
    for name in names:
        build: list[float] = []
        count: list[float] = []
        try:
            for p in range(args.passes):
                spark.sparkContext.setJobDescription(f"measure:{name} #{p}")
                t0 = time.perf_counter()
                df = WORKLOAD[name].fn(spark, sf_dir)
                t1 = time.perf_counter()
                rows = df.count()
                build.append(t1 - t0)
                count.append(time.perf_counter() - t1)
                release_tracked_caches()
            joins = join_strategies(df)
            if args.plans:
                with open(os.path.join(args.plans, f"{name}.txt"),
                          "w") as f:
                    f.write(formatted_plan(df))
        except Exception as exc:
            release_tracked_caches()
            failed.append(name)
            print(f"FAIL {name}: {str(exc)[:200]}", flush=True)
            continue
        finally:
            spark.sparkContext.setJobDescription(None)
        total += med(build) + med(count)
        print(f"{name}: build={med(build):.3f}s count={med(count):.3f}s "
              f"rows={rows} joins={joins}", flush=True)
    print(f"# {len(names) - len(failed)} ok, {len(failed)} failed, "
          f"build+count medians {total:.2f}s at {sf_dir}"
          + (f": {failed}" if failed else ""))
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
