"""The names the benchmark reaches into the package by: a refactor
that renames one breaks ``perfbench/`` without failing anything else."""
import sys
from pathlib import Path

PERFBENCH = str(Path(__file__).resolve().parents[1] / "perfbench")


def test_tracer_finds_every_name_it_wraps(spark, sf_dir):
    if PERFBENCH not in sys.path:
        sys.path.insert(0, PERFBENCH)
    import tracing

    from olap_xtrctr_spark.service import OlapService
    get_members = OlapService.get_members
    tracer = tracing.Tracer()
    try:
        tracer.install(spark, serving=True)     # getattr of every name
        assert OlapService.get_members is not get_members
    finally:
        tracer.uninstall()
    assert OlapService.get_members is get_members
    # the benchmark's server warms the members memo with this call
    assert OlapService(spark, sf_dir)._members("VENTAS_2025").count() > 0
