"""Shared context for the per-family workload modules
(``olap_xtrctr_spark/workloads/``): the cube/engine caches, oracle CTE
fragments and table-loader shorthands that more than one family uses,
and the staged-stream harness the streaming entries replay through.
"""
from __future__ import annotations

import hashlib
import os
import shutil
from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .cube import sales_cube, default_registry
from .metadata import cached_members_df
from .oracle import _MES_CASE as MES_CASE
from .oracle import members_cte, view_cte
from .query import CubeQueryEngine
from .session import input_files_signature, load_table

CATALOG = "VENTAS_2025"


def SUM_D(col: str) -> str:
    """Oracle-side mirror of Measure.agg_expr's exact-decimal SUM."""
    return f"CAST(SUM(CAST({col} AS DECIMAL(18,4))) AS DOUBLE)"


def AVG_D(col: str) -> str:
    return f"{SUM_D(col)} / COUNT({col})"


@dataclass
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    sql: Optional[str]       # None -> driver records rows-only check


_ENG_CACHE: dict[tuple[int, str], CubeQueryEngine] = {}


def _eng(spark: SparkSession, sf_dir: str) -> CubeQueryEngine:
    # One engine per (session, sf_dir): the engine's view/cardinality
    # caches are per-instance, and rebuilding it per query repays the
    # cardinality-guard distinct count on every single cube query.
    key = (id(spark), sf_dir)
    eng = _ENG_CACHE.get(key)
    if eng is None:
        eng = _ENG_CACHE[key] = CubeQueryEngine(
            spark, default_registry(), sf_dir)
    return eng


def _members(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cached_members_df(spark, sales_cube(), sf_dir)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings")


_CUBE = sales_cube()
_MEMBERS_CTE = members_cte(_CUBE)

_OW = view_cte("orders_wide")
_OW_PART = view_cte("orders_wide", "part_view")
_SUPP = view_cte("supplier_geo")

_FACT_OW = "lineitem JOIN orders_wide ON l_orderkey = o_orderkey"


# ---- staged-stream harness ----------------------------------------------
# A streaming entry replays a table as an availableNow file stream: the
# table is staged once into ordered parquet batch files under a /tmp
# root, re-staged only when the source changes, and drained one file
# per micro-batch through the entry's own foreachBatch fold.


def scratch_root(name: str, sf: str) -> str:
    """``/tmp/olap_xtrctr_<name>/<basename>-<sha12>``, keyed by a hash
    of the full dataset path: two datasets that share a basename never
    share a root."""
    sf_key = (os.path.basename(os.path.normpath(sf)) + "-"
              + hashlib.sha256(os.path.abspath(sf).encode())
              .hexdigest()[:12])
    return os.path.join("/tmp", f"olap_xtrctr_{name}", sf_key)


def staged_root(name: str, sf: str, df: DataFrame,
                stage: Callable[[str], None]) -> str:
    """The scratch root of entry ``name`` over ``sf``.  When the
    signature of ``df``'s input files differs from the one the root was
    staged for, the root is wiped (sources, checkpoints, stores and
    reports alike) and ``stage(root)`` refills it.  The marker holding
    the signature is written last, so an interrupted staging is
    redone."""
    root = scratch_root(name, sf)
    sig = input_files_signature(df)
    marker = os.path.join(root, "_DEMO_SRC")
    if os.path.exists(marker):
        with open(marker) as fh:
            if fh.read().strip() == sig:
                return root
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root, exist_ok=True)
    stage(root)
    with open(marker, "w") as fh:
        fh.write(sig)
    return root


def tertiles(df: DataFrame, col: str) -> list[Column]:
    """Filters splitting ``df`` into three ``col``-ordered slices at its
    1/3 and 2/3 percentiles."""
    b1, b2 = df.agg(F.expr(f"percentile({col}, 0.3333)"),
                    F.expr(f"percentile({col}, 0.6667)")).first()
    c = F.col(col)
    return [c <= b1, (c > b1) & (c <= b2), c > b2]


def stage_batches(name: str, sf: str, df: DataFrame,
                  slices: Callable[[DataFrame], list[Column]]) -> str:
    """``staged_root`` whose staging writes ``df`` as one parquet file per
    slice under ``<root>/src``, in arrival order.  ``slices(df)`` gives
    the batch filters; it runs only when the root is (re)staged."""
    def stage(root: str) -> None:
        src = os.path.join(root, "src")
        os.makedirs(src)
        for i, cond in enumerate(slices(df)):
            tmp = os.path.join(root, f"_tmp{i}")
            df.filter(cond).coalesce(1).write.mode("overwrite").parquet(tmp)
            part = next(f for f in os.listdir(tmp)
                        if f.startswith("part-") and f.endswith(".parquet"))
            dst = os.path.join(src, f"batch{i}.parquet")
            shutil.move(os.path.join(tmp, part), dst)
            shutil.rmtree(tmp)
            # explicit mtimes pin the file source's arrival order
            os.utime(dst, (1_000_000 + i, 1_000_000 + i))

    return staged_root(name, sf, df, stage)


def drain(spark: SparkSession, schema, root: str,
          fold: Callable[[DataFrame, int], None], ckpt: str) -> None:
    """Replay ``<root>/src`` as an availableNow file stream, one file per
    micro-batch, through ``fold(batch, batch_id)``; ``ckpt`` names the
    checkpoint directory under ``root``."""
    q = (spark.readStream.schema(schema)
         .option("maxFilesPerTrigger", 1)
         .parquet(os.path.join(root, "src"))
         .writeStream.foreachBatch(fold)
         .option("checkpointLocation", os.path.join(root, ckpt))
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
