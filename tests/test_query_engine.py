"""Cube query engine semantics at sf0.001 (hand-checked + validation rules)."""
import pytest

from olap_xtrctr_spark import (AxisItem, CubeQueryEngine, FilterSpec,
                               QueryRequest, default_registry)
from olap_xtrctr_spark.query import QueryValidationError


@pytest.fixture(scope="module")
def eng(spark, sf_dir):
    return CubeQueryEngine(spark, default_registry(), sf_dir)


def test_flagship_nation_rollup(eng):
    df = eng.execute(QueryRequest(
        "VENTAS_2025", measures=["Total Registros"],
        rows=[AxisItem("Dim Customer", "Geografía", level="Nation")]))
    rows = df.collect()
    assert df.columns == ["nation", "total_registros"]
    assert sum(r["total_registros"] for r in rows) == 6000
    assert len(rows) == 25


def test_duplicate_hierarchy_rejected(eng):
    with pytest.raises(QueryValidationError, match="twice"):
        eng.execute(QueryRequest("VENTAS_2025", rows=[
            AxisItem("Dim Customer", "Geografía", level="Nation"),
            AxisItem("Dim Customer", "Geografía", level="Region")]))


def test_row_dim_cap(eng):
    with pytest.raises(QueryValidationError, match="at most 3"):
        eng.execute(QueryRequest("VENTAS_2025", rows=[
            AxisItem("Dim Customer", "Geografía", level="Nation"),
            AxisItem("Dim Producto", "Producto", level="Brand"),
            AxisItem("D Tiempo", "Calendario", level="Año"),
            AxisItem("Dim Orders", "Estado", level="Estado")]))


def test_filter_dropped_when_hierarchy_on_rows(eng):
    warns = []
    df = eng.execute(QueryRequest(
        "VENTAS_2025", measures=["Total Registros"],
        rows=[AxisItem("Dim Customer", "Geografía", level="Region")],
        filters=[FilterSpec("Dim Customer", "Geografía",
                 members=["[Dim Customer].[Geografía].[Region].&[0]"])]),
        warn=warns.append)
    assert len(warns) == 1
    # filter dropped → all 5 regions remain
    assert df.count() == 5


def test_slicer_not_in_output(eng):
    df = eng.execute(QueryRequest(
        "VENTAS_2025", measures=["Total Registros"],
        rows=[AxisItem("Dim Producto", "Producto", level="Brand")],
        slicers=["[Dim Orders].[Estado].[Estado].&[F]"]))
    assert "estado" not in df.columns
    total = sum(r["total_registros"] for r in df.collect())
    assert 0 < total < 6000  # slicer actually filtered


def test_invisible_measure_excluded_from_allmembers(eng):
    df = eng.execute(QueryRequest("VENTAS_2025", all_measures=True))
    assert "sum_tax" not in df.columns
    assert "sum_extendedprice" in df.columns


def test_empty_preserving_vs_non_empty(eng):
    req = dict(measures=["Sum Extendedprice"],
               rows=[AxisItem("Dim Orders", "Estado", level="Estado"),
                     AxisItem("D Tiempo", "Calendario", level="Año")])
    sparse = eng.execute(QueryRequest("VENTAS_2025", **req))
    dense = eng.execute(QueryRequest("VENTAS_2025", non_empty=False, **req),
                        empty_preserving=True)
    assert dense.count() >= sparse.count()
    # dense = full crossjoin of the two level sets
    n_estado = 3
    assert dense.count() % n_estado == 0


def test_depth_resolution_matches_name(eng):
    by_depth = eng.execute(QueryRequest(
        "VENTAS_2025", rows=[AxisItem("Dim Proveedor", "Geografía Proveedor",
                                      depth=2)]))
    by_name = eng.execute(QueryRequest(
        "VENTAS_2025", rows=[AxisItem("Dim Proveedor", "Geografía Proveedor",
                                      level="Nation")]))
    assert sorted(map(tuple, by_depth.collect())) == \
        sorted(map(tuple, by_name.collect()))


def test_cardinality_estimate(eng):
    cube = default_registry().resolve("VENTAS_2025")
    axes = [eng._resolve_axis(cube, AxisItem("Dim Customer", "Geografía",
                                             level="Region"))]
    assert eng.estimate_cardinality(cube, axes) == 5


def test_dimension_alias_rewrite(spark, sf_dir):
    """Q15: stale dimension name resolves through the alias map."""
    from olap_xtrctr_spark.cube import sales_cube
    cube = sales_cube()
    assert cube.dimension("DIM VARIABLES").name == "DIM VARIABLES2025"
    assert cube.dimension("[DIM VARIABLES]").name == "DIM VARIABLES2025"


def test_retry_on_failure_backoff():
    from olap_xtrctr_spark.validators import retry_on_failure
    calls = []

    @retry_on_failure(max_retries=2, base_delay=0.01)
    def flaky():
        calls.append(1)
        if len(calls) < 3:
            raise RuntimeError("transient")
        return "ok"

    assert flaky() == "ok" and len(calls) == 3


def test_q7_all_level_repair(eng):
    """Q7: 'All'/'UNKNOWNMEMBER' level resolves via the hierarchy itself."""
    from olap_xtrctr_spark import AxisItem, QueryRequest
    out = eng.execute(QueryRequest(
        "VENTAS_2025", measures=["Total Registros"],
        rows=[AxisItem("Dim Orders", "Estado", level="UNKNOWNMEMBER")]))
    assert out.count() == 3          # repaired to the Estado level


def test_q14_cube_resolution():
    """Q14/M8: first non-$ cube; prefer cube named like the catalog."""
    from olap_xtrctr_spark.cube import CubeRegistry, default_registry, \
        sales_cube
    reg = CubeRegistry()
    internal = sales_cube()
    internal.name = "$Dim Internal"
    reg.register(internal)             # registered FIRST, must be skipped
    reg.register(sales_cube())
    assert reg.resolve("VENTAS_2025").name == "sales"
    assert reg.resolve("VENTAS_2025", cube="[sales]").name == "sales"
    # default registry ships the $-cube fixture and still resolves main
    assert default_registry().resolve("VENTAS_2025").name == "sales"
    import pytest
    with pytest.raises(KeyError):
        reg.resolve("NO_SUCH_CATALOG")


def test_named_cube_must_match_catalog():
    """An explicitly named cube registered under a DIFFERENT catalog is an
    error, not a silent cross-catalog fallthrough (year-scoped semantics)."""
    import pytest
    from olap_xtrctr_spark.cube import default_registry
    reg = default_registry()
    # 'sales' belongs to VENTAS_2025 — naming it under VENTAS_1998 must fail
    with pytest.raises(KeyError, match="VENTAS_2025"):
        reg.resolve("VENTAS_1998", cube="[sales]")
    # correct catalog still resolves
    assert reg.resolve("VENTAS_2025", cube="[sales]").name == "sales"


def test_cardinality_guard_spills_to_disk(spark, sf_dir):
    """N18 guard counts persist next to the members cache: a FRESH engine
    instance must serve them from the spill without touching any view
    (the cold-process cube_* cost, VERDICT r4 plan audit)."""
    import os

    from olap_xtrctr_spark.cube import sales_cube

    cube = sales_cube()
    dim = cube.dimension("Dim Customer")
    lv = dim.hierarchy("Geografía").levels[1]          # Nation

    warm = CubeQueryEngine(spark, default_registry(), sf_dir)
    n = warm.level_cardinality(cube, dim, lv)
    assert n == 25
    assert os.path.exists(warm._card_spill_path(cube))

    cold = CubeQueryEngine(spark, default_registry(), sf_dir)

    def boom(*a, **k):
        raise AssertionError("cold engine touched a view — spill not used")
    cold._view = boom
    assert cold.level_cardinality(cube, dim, lv) == 25


def test_members_cache_evicts_stale_fingerprints(spark, sf_dir):
    """A structure change leaves exactly one spill behind (reference v2
    invalidates on cache-name change)."""
    import json
    import os
    import shutil

    from olap_xtrctr_spark import metadata
    from olap_xtrctr_spark.cube import sales_cube

    cube = sales_cube()
    current = metadata._disk_cache_path(spark, cube, sf_dir)
    base, tag = os.path.dirname(current), sf_dir.strip("/").replace("/", "_")
    stale_dir = f"{base}/{cube.name}_deadbeefcafe_{tag}"
    os.makedirs(stale_dir, exist_ok=True)
    with open(f"{stale_dir}_cards.json", "w") as f:
        json.dump({"old": 1}, f)

    # force a rebuild through the disk-cache write path
    metadata._MEMBERS_CACHE.pop(metadata._members_key(cube, sf_dir), None)
    shutil.rmtree(current, ignore_errors=True)
    metadata.cached_members_df(spark, cube, sf_dir)

    assert not os.path.exists(stale_dir)
    assert not os.path.exists(f"{stale_dir}_cards.json")
    assert os.path.exists(current)


def test_card_spill_corruption_recovers(spark, sf_dir):
    """A corrupt spill file must not break the guard — counts recompute
    and the spill heals on the next write."""
    from olap_xtrctr_spark.cube import sales_cube

    cube = sales_cube()
    dim = cube.dimension("Dim Customer")
    lv = dim.hierarchy("Geografía").levels[1]
    eng = CubeQueryEngine(spark, default_registry(), sf_dir)
    path = eng._card_spill_path(cube)
    with open(path, "w") as f:
        f.write("{corrupt")
    assert eng.level_cardinality(cube, dim, lv) == 25   # recomputed
    import json
    healed = json.load(open(path))                      # rewritten valid
    assert any(k.endswith("|Nation") for k in healed)


def test_calculated_measure_safe_divide_and_validation(spark, sf_dir):
    import pytest

    from olap_xtrctr_spark.cube import default_registry
    from olap_xtrctr_spark.query import (CalcMeasure, CubeQueryEngine,
                                         QueryRequest,
                                         QueryValidationError, AxisItem)
    eng = CubeQueryEngine(spark, default_registry(), sf_dir)
    # zero denominator -> NULL, not Infinity/error (safe divide)
    req = QueryRequest(
        "VENTAS_2025",
        measures=["Zero Div", "Sum Quantity"],
        calculated=[CalcMeasure(
            "Zero Div",
            "[Measures].[Sum Quantity] / "
            "([Measures].[Sum Quantity] - [Measures].[Sum Quantity])")],
        rows=[AxisItem("Dim Customer", "Geografía", level="Region")])
    rows = eng.execute(req).collect()
    assert rows and all(r["zero_div"] is None for r in rows)
    assert all(r["sum_quantity"] is not None for r in rows)
    # calc-over-calc resolves in dependency order (round 9 —
    # previously rejected)
    req2 = QueryRequest(
        "VENTAS_2025", measures=["B", "Sum Quantity"],
        calculated=[CalcMeasure("A", "[Measures].[Sum Quantity] * 2"),
                    CalcMeasure("B", "[Measures].[A] + 1")],
        rows=[AxisItem("Dim Customer", "Geografía", level="Region")])
    for r in eng.execute(req2).collect():
        assert r["b"] == 2 * r["sum_quantity"] + 1


def test_topcount_ties_and_filter_on_unselected_base(spark, sf_dir):
    from olap_xtrctr_spark.cube import default_registry
    from olap_xtrctr_spark.query import (AxisItem, CubeQueryEngine,
                                         QueryRequest, TopCountSpec)
    eng = CubeQueryEngine(spark, default_registry(), sf_dir)
    base = QueryRequest(
        "VENTAS_2025", measures=["Sum Extendedprice"],
        rows=[AxisItem("Dim Customer", "Geografía", level="Nation")])
    all_rows = {r["nation"]: r["sum_extendedprice"]
                for r in eng.execute(base).collect()}
    req = QueryRequest(
        "VENTAS_2025", measures=["Sum Extendedprice"],
        rows=[AxisItem("Dim Customer", "Geografía", level="Nation")],
        having=["[Measures].[Sum Quantity] > 0"],
        topcount=TopCountSpec(3, "Sum Extendedprice"))
    out = eng.execute(req)
    # FILTER referenced Sum Quantity but the output schema has only the
    # selected measure
    assert out.columns == ["nation", "sum_extendedprice"]
    got = {r["nation"]: r["sum_extendedprice"] for r in out.collect()}
    expect = dict(sorted(all_rows.items(),
                         key=lambda kv: (-kv[1], kv[0]))[:3])
    assert got == expect

def test_order_by_unselected_measure(spark, sf_dir):
    """ADVICE r6: ORDER(set, [Measures].[X]) where X is NOT on the
    columns axis must aggregate X anyway (then project it away)."""
    from olap_xtrctr_spark.cube import default_registry
    from olap_xtrctr_spark.query import (AxisItem, CubeQueryEngine,
                                         QueryRequest)
    eng = CubeQueryEngine(spark, default_registry(), sf_dir)
    base = QueryRequest(
        "VENTAS_2025", measures=["Sum Quantity"],
        rows=[AxisItem("Dim Customer", "Geografía", level="Nation")])
    qty = {r["nation"]: r["sum_quantity"]
           for r in eng.execute(base).collect()}
    req = QueryRequest(
        "VENTAS_2025", measures=["Sum Extendedprice"],
        rows=[AxisItem("Dim Customer", "Geografía", level="Nation")],
        order_by=("Sum Quantity", True))
    out = eng.execute(req)
    assert out.columns == ["nation", "sum_extendedprice"]
    got = [r["nation"] for r in out.collect()]
    expect = [n for n, _ in sorted(qty.items(),
                                   key=lambda kv: (-kv[1], kv[0]))]
    assert got == expect


def test_filter_and_topcount_reference_unselected_calc(spark, sf_dir):
    """ADVICE r6: FILTER/TOPCOUNT referencing a WITH MEMBER calc that
    is not on the columns axis must materialize the calc column."""
    from olap_xtrctr_spark.cube import default_registry
    from olap_xtrctr_spark.query import (AxisItem, CalcMeasure,
                                         CubeQueryEngine, QueryRequest,
                                         TopCountSpec)
    eng = CubeQueryEngine(spark, default_registry(), sf_dir)
    calc = CalcMeasure("Avg Price",
                       "[Measures].[Sum Extendedprice] / "
                       "[Measures].[Sum Quantity]")
    base = QueryRequest(
        "VENTAS_2025", measures=["Sum Quantity", "Avg Price"],
        calculated=[calc],
        rows=[AxisItem("Dim Customer", "Geografía", level="Nation")])
    ref = {r["nation"]: (r["sum_quantity"], r["avg_price"])
           for r in eng.execute(base).collect()}
    # TOPCOUNT keyed on the unselected calc
    req = QueryRequest(
        "VENTAS_2025", measures=["Sum Quantity"], calculated=[calc],
        rows=[AxisItem("Dim Customer", "Geografía", level="Nation")],
        topcount=TopCountSpec(4, "Avg Price"))
    out = eng.execute(req)
    assert out.columns == ["nation", "sum_quantity"]
    got = {r["nation"]: r["sum_quantity"] for r in out.collect()}
    top4 = sorted(ref.items(), key=lambda kv: (-kv[1][1], kv[0]))[:4]
    assert got == {n: v[0] for n, v in top4}
    # FILTER conditioned on the unselected calc
    req2 = QueryRequest(
        "VENTAS_2025", measures=["Sum Quantity"], calculated=[calc],
        rows=[AxisItem("Dim Customer", "Geografía", level="Nation")],
        having=["[Measures].[Avg Price] > 0"])
    out2 = eng.execute(req2)
    assert out2.columns == ["nation", "sum_quantity"]
    assert {r["nation"] for r in out2.collect()} \
        == {n for n, v in ref.items() if v[1] > 0}


def test_all_measures_with_topcount_keeps_all_columns(spark, sf_dir):
    """AllMembers + TOPCOUNT previously silently collapsed to the
    default measure in the full resolution path."""
    from olap_xtrctr_spark.cube import default_registry
    from olap_xtrctr_spark.query import (AxisItem, CubeQueryEngine,
                                         QueryRequest, TopCountSpec)
    eng = CubeQueryEngine(spark, default_registry(), sf_dir)
    n_meas = len(default_registry().resolve("VENTAS_2025")
                 .visible_measures())
    req = QueryRequest(
        "VENTAS_2025", all_measures=True,
        rows=[AxisItem("Dim Customer", "Geografía", level="Nation")],
        topcount=TopCountSpec(3, "Sum Quantity"))
    out = eng.execute(req)
    assert len(out.columns) == 1 + n_meas
    assert out.count() == 3


def test_order_by_rejected_with_variables_pivot(spark, sf_dir):
    from olap_xtrctr_spark.cube import default_registry
    from olap_xtrctr_spark.query import (AxisItem, CubeQueryEngine,
                                         QueryRequest,
                                         QueryValidationError)
    eng = CubeQueryEngine(spark, default_registry(), sf_dir)
    req = QueryRequest(
        "VENTAS_2025", measures=["Sum Quantity"],
        variables=["[DIM VARIABLES2025].[Apartado y Variable].[Apartado].&[Brand#11]"],
        rows=[AxisItem("Dim Customer", "Geografía", level="Nation")],
        order_by=("Sum Quantity", True))
    with pytest.raises(QueryValidationError, match="variables pivot"):
        eng.execute(req)


def test_head_tail(eng):
    """HEAD/TAIL: first/last n in set order — canonical caption order
    without ORDER, the ORDER key with it; TAIL restores forward order."""
    from olap_xtrctr_spark.query import HeadTailSpec
    base = QueryRequest(
        "VENTAS_2025", measures=["Sum Quantity"],
        rows=[AxisItem("Dim Customer", "Geografía", level="Nation")])
    all_rows = {r["nation"]: r["sum_quantity"]
                for r in eng.execute(base).collect()}
    nations_sorted = sorted(all_rows)

    head = eng.execute(QueryRequest(
        "VENTAS_2025", measures=["Sum Quantity"],
        rows=[AxisItem("Dim Customer", "Geografía", level="Nation")],
        head_tail=HeadTailSpec(3)))
    assert [r["nation"] for r in head.collect()] == nations_sorted[:3]

    tail = eng.execute(QueryRequest(
        "VENTAS_2025", measures=["Sum Quantity"],
        rows=[AxisItem("Dim Customer", "Geografía", level="Nation")],
        head_tail=HeadTailSpec(3, tail=True)))
    # last 3 of caption order, RE-EMITTED in forward caption order
    assert [r["nation"] for r in tail.collect()] == nations_sorted[-3:]

    # TAIL over ORDER(measure DESC) = the 3 smallest, forward order
    # restored (largest of the 3 first)
    tail_ord = eng.execute(QueryRequest(
        "VENTAS_2025", measures=["Sum Quantity"],
        rows=[AxisItem("Dim Customer", "Geografía", level="Nation")],
        order_by=("Sum Quantity", True),
        head_tail=HeadTailSpec(3, tail=True)))
    by_qty = sorted(all_rows.items(), key=lambda kv: (-kv[1], kv[0]))
    assert [r["nation"] for r in tail_ord.collect()] == \
        [n for n, _ in by_qty[-3:]]


def test_head_tail_validation(eng):
    from olap_xtrctr_spark.query import HeadTailSpec
    with pytest.raises(QueryValidationError, match="rows axis"):
        eng.execute(QueryRequest(
            "VENTAS_2025", measures=["Sum Quantity"],
            head_tail=HeadTailSpec(3)))


def test_head_tail_mdx_roundtrip():
    from olap_xtrctr_spark.mdx import build_mdx, parse_mdx
    mdx = ("SELECT { [Measures].[Sum Quantity] } ON COLUMNS, "
           "NON EMPTY TAIL(ORDER([Dim Customer].[Geografía].[Nation]"
           ".MEMBERS, [Measures].[Sum Quantity], DESC), 5) ON ROWS "
           "FROM [sales]")
    req = parse_mdx(mdx, "VENTAS_2025")
    assert req.head_tail is not None
    assert (req.head_tail.n, req.head_tail.tail) == (5, True)
    assert req.order_by == ("Sum Quantity", True)
    back = parse_mdx(build_mdx(req), "VENTAS_2025")
    assert (back.head_tail, back.order_by) == (req.head_tail, req.order_by)


def test_head_rejects_bad_args():
    from olap_xtrctr_spark.mdx import MdxParseError, parse_mdx
    with pytest.raises(MdxParseError, match="integer"):
        parse_mdx("SELECT {[Measures].[Sum Quantity]} ON COLUMNS, "
                  "HEAD([D].[H].MEMBERS, x) ON ROWS FROM [c]",
                  "VENTAS_2025")
    with pytest.raises(MdxParseError, match="2 args"):
        parse_mdx("SELECT {[Measures].[Sum Quantity]} ON COLUMNS, "
                  "TAIL([D].[H].MEMBERS) ON ROWS FROM [c]",
                  "VENTAS_2025")


def test_prevmember_lag_calc(spark, sf_dir):
    """PrevMember tuple calc: (1) months lag CHRONOLOGICALLY (level
    ordinal order, not caption order); (2) a crossjoined axis
    partitions the lag by the other hierarchy; (3) first period is
    NULL; (4) naming a hierarchy that is not on ROWS fails loudly;
    (5) a malformed tuple is a parse error."""
    import pytest

    from olap_xtrctr_spark.cube import default_registry
    from olap_xtrctr_spark.mdx import parse_mdx
    from olap_xtrctr_spark.query import (CubeQueryEngine, MeasureExprError,
                                         QueryValidationError,
                                         parse_measure_expr)
    eng = CubeQueryEngine(spark, default_registry(), sf_dir)

    out = eng.execute(parse_mdx(
        "WITH MEMBER [Measures].[Qty Delta] AS "
        "[Measures].[Sum Quantity] - "
        "([Measures].[Sum Quantity], [D Tiempo].[Calendario].PrevMember) "
        "SELECT { [Measures].[Sum Quantity], [Measures].[Qty Delta] } "
        "ON COLUMNS, [D Tiempo].[Calendario].[Mes].MEMBERS "
        "DIMENSION PROPERTIES MEMBER_CAPTION ON ROWS FROM [sales]",
        "VENTAS_2025")).collect()
    months = ["Enero", "Febrero", "Marzo", "Abril", "Mayo", "Junio",
              "Julio", "Agosto", "Septiembre", "Octubre", "Noviembre",
              "Diciembre"]
    by_key = {(r["anio"], r["mes"]): r for r in out}
    ordered = sorted(by_key, key=lambda k: (k[0], months.index(k[1])))
    # chronological deltas: row i's delta == qty_i - qty_{i-1}
    first = ordered[0]
    assert by_key[first]["qty_delta"] is None
    for prev, cur in zip(ordered, ordered[1:]):
        d = by_key[cur]["qty_delta"]
        assert d == pytest.approx(
            by_key[cur]["sum_quantity"] - by_key[prev]["sum_quantity"])

    # crossjoin: partition per region, NULL on each region's first year
    out2 = eng.execute(parse_mdx(
        "WITH MEMBER [Measures].[YoY] AS "
        "[Measures].[Sum Quantity] - ([Measures].[Sum Quantity], "
        "[D Tiempo].[Calendario].CurrentMember.PrevMember) "
        "SELECT { [Measures].[YoY] } ON COLUMNS, "
        "CROSSJOIN([Dim Customer].[Geografía].[Region].MEMBERS, "
        "[D Tiempo].[Calendario].[Año].MEMBERS) ON ROWS FROM [sales]",
        "VENTAS_2025")).collect()
    regions = {}
    for r in out2:
        regions.setdefault(r["region"], []).append((r["anio"], r["yoy"]))
    assert len(regions) == 5
    for rows in regions.values():
        rows.sort()
        assert rows[0][1] is None
        assert all(v is not None for _, v in rows[1:])

    # hierarchy not on rows -> loud validation error
    with pytest.raises(QueryValidationError, match="not on ROWS"):
        eng.execute(parse_mdx(
            "WITH MEMBER [Measures].[D] AS ([Measures].[Sum Quantity], "
            "[D Tiempo].[Calendario].PrevMember) "
            "SELECT { [Measures].[D] } ON COLUMNS, "
            "[Dim Customer].[Geografía].[Region].MEMBERS ON ROWS "
            "FROM [sales]", "VENTAS_2025")).collect()

    # malformed tuple second element -> parse error
    with pytest.raises(MeasureExprError, match="PrevMember"):
        parse_measure_expr(
            "([Measures].[Sum Quantity], [Measures].[Sum Quantity])")


def test_ytd_running_total(spark, sf_dir):
    """SUM(YTD(...), measure): accumulates chronologically within the
    year partition, resets at year boundaries, and the crossjoined
    hierarchy partitions independently; malformed YTD is a parse
    error."""
    import pytest

    from olap_xtrctr_spark.cube import default_registry
    from olap_xtrctr_spark.mdx import parse_mdx
    from olap_xtrctr_spark.query import (CubeQueryEngine,
                                         MeasureExprError,
                                         parse_measure_expr)
    eng = CubeQueryEngine(spark, default_registry(), sf_dir)
    out = eng.execute(parse_mdx(
        "WITH MEMBER [Measures].[Ytd Qty] AS "
        "SUM(YTD([D Tiempo].[Calendario]), [Measures].[Sum Quantity]) "
        "SELECT { [Measures].[Sum Quantity], [Measures].[Ytd Qty] } "
        "ON COLUMNS, [D Tiempo].[Calendario].[Mes].MEMBERS "
        "DIMENSION PROPERTIES MEMBER_CAPTION ON ROWS FROM [sales]",
        "VENTAS_2025")).collect()
    months = ["Enero", "Febrero", "Marzo", "Abril", "Mayo", "Junio",
              "Julio", "Agosto", "Septiembre", "Octubre", "Noviembre",
              "Diciembre"]
    years = {}
    for r in out:
        years.setdefault(r["anio"], []).append(r)
    assert len(years) > 1
    for rows in years.values():
        rows.sort(key=lambda r: months.index(r["mes"]))
        run = 0.0
        for r in rows:               # resets each year, accumulates
            run += r["sum_quantity"]
            assert r["ytd_qty"] == pytest.approx(run)

    with pytest.raises(MeasureExprError, match="YTD"):
        parse_measure_expr("SUM(YTD(5), [Measures].[Sum Quantity])")
    with pytest.raises(MeasureExprError, match="SUM"):
        parse_measure_expr("SUM([Measures].[Sum Quantity])")


def test_lastperiods_rolling_window(spark, sf_dir):
    """SUM(LASTPERIODS(3, ...)): trailing window CROSSES year
    boundaries (unlike YTD) — January's window includes the previous
    year's Nov+Dec; head rows are ragged (1- and 2-row windows)."""
    import pytest

    from olap_xtrctr_spark.cube import default_registry
    from olap_xtrctr_spark.mdx import parse_mdx
    from olap_xtrctr_spark.query import (CubeQueryEngine,
                                         MeasureExprError,
                                         parse_measure_expr)
    eng = CubeQueryEngine(spark, default_registry(), sf_dir)
    out = eng.execute(parse_mdx(
        "WITH MEMBER [Measures].[R3] AS "
        "SUM(LASTPERIODS(3, [D Tiempo].[Calendario].CurrentMember), "
        "[Measures].[Sum Quantity]) "
        "SELECT { [Measures].[Sum Quantity], [Measures].[R3] } "
        "ON COLUMNS, [D Tiempo].[Calendario].[Mes].MEMBERS "
        "DIMENSION PROPERTIES MEMBER_CAPTION ON ROWS FROM [sales]",
        "VENTAS_2025")).collect()
    months = ["Enero", "Febrero", "Marzo", "Abril", "Mayo", "Junio",
              "Julio", "Agosto", "Septiembre", "Octubre", "Noviembre",
              "Diciembre"]
    rows = sorted(out, key=lambda r: (r["anio"], months.index(r["mes"])))
    qty = [r["sum_quantity"] for r in rows]
    for i, r in enumerate(rows):
        want = sum(qty[max(0, i - 2):i + 1])
        assert r["r3"] == pytest.approx(want), (r["anio"], r["mes"])
    # January (beyond the first year) must include prior-year months
    jan_idx = next(i for i, r in enumerate(rows)
                   if r["mes"] == "Enero" and i >= 2)
    assert rows[jan_idx]["r3"] == pytest.approx(
        sum(qty[jan_idx - 2:jan_idx + 1]))

    with pytest.raises(MeasureExprError, match="LASTPERIODS"):
        parse_measure_expr(
            "SUM(LASTPERIODS(0, [D Tiempo].[Calendario]), "
            "[Measures].[Sum Quantity])")


def test_prevmember_unselected_calc_no_ordinal_leak(spark, sf_dir):
    """A declared-but-unselected PrevMember calc must not leak the
    reserved _ord_* groupBy columns into the result schema; YTD at the
    hierarchy's TOP level yields each member's own value (SSAS
    PeriodsToDate at the member's grain), not a cross-year total."""
    import pytest

    from olap_xtrctr_spark.cube import default_registry
    from olap_xtrctr_spark.mdx import parse_mdx
    from olap_xtrctr_spark.query import CubeQueryEngine
    eng = CubeQueryEngine(spark, default_registry(), sf_dir)
    out = eng.execute(parse_mdx(
        "WITH MEMBER [Measures].[Unused] AS ([Measures].[Sum Quantity], "
        "[D Tiempo].[Calendario].PrevMember) "
        "SELECT { [Measures].[Sum Quantity] } ON COLUMNS, "
        "[D Tiempo].[Calendario].[Mes].MEMBERS "
        "DIMENSION PROPERTIES MEMBER_CAPTION ON ROWS FROM [sales]",
        "VENTAS_2025"))
    assert out.columns == ["anio", "mes", "sum_quantity"]

    ytd = eng.execute(parse_mdx(
        "WITH MEMBER [Measures].[Y] AS "
        "SUM(YTD([D Tiempo].[Calendario]), [Measures].[Sum Quantity]) "
        "SELECT { [Measures].[Sum Quantity], [Measures].[Y] } "
        "ON COLUMNS, [D Tiempo].[Calendario].[Año].MEMBERS "
        "ON ROWS FROM [sales]", "VENTAS_2025")).collect()
    assert len(ytd) > 1
    for r in ytd:
        assert r["y"] == pytest.approx(r["sum_quantity"])


def test_parallelperiod_distance(spark, sf_dir):
    """PARALLELPERIOD([hier], 12) at month grain == same month last
    year (lag 12 over the chronological axis); bad args are parse
    errors."""
    import pytest

    from olap_xtrctr_spark.cube import default_registry
    from olap_xtrctr_spark.mdx import parse_mdx
    from olap_xtrctr_spark.query import (CubeQueryEngine,
                                         MeasureExprError,
                                         parse_measure_expr)
    eng = CubeQueryEngine(spark, default_registry(), sf_dir)
    out = eng.execute(parse_mdx(
        "WITH MEMBER [Measures].[Y] AS ([Measures].[Sum Quantity], "
        "PARALLELPERIOD([D Tiempo].[Calendario], 12)) "
        "SELECT { [Measures].[Sum Quantity], [Measures].[Y] } "
        "ON COLUMNS, [D Tiempo].[Calendario].[Mes].MEMBERS "
        "DIMENSION PROPERTIES MEMBER_CAPTION ON ROWS FROM [sales]",
        "VENTAS_2025")).collect()
    by = {(r["anio"], r["mes"]): r for r in out}
    hits = 0
    for (anio, mes), r in by.items():
        prev = by.get((anio - 1, mes))
        if prev is not None and r["y"] is not None:
            assert r["y"] == pytest.approx(prev["sum_quantity"])
            hits += 1
    assert hits > 10

    with pytest.raises(MeasureExprError, match="PARALLELPERIOD"):
        parse_measure_expr(
            "([Measures].[Sum Quantity], "
            "PARALLELPERIOD([D Tiempo].[Calendario], 0))")


def test_calc_over_calc_chain_and_cycle(spark, sf_dir):
    """Calculated measures may reference other calcs (round 9): DFS
    dependency order materializes [A] before [B]=f([A]); a reference
    cycle fails with the chain, not a stack overflow."""
    from olap_xtrctr_spark.mdx import parse_mdx
    from olap_xtrctr_spark.query import QueryValidationError

    eng = CubeQueryEngine(spark, default_registry(), sf_dir)
    rows = eng.execute(parse_mdx(
        "WITH MEMBER [Measures].[Avg Price] AS "
        "[Measures].[Sum Extendedprice] / [Measures].[Sum Quantity] "
        "MEMBER [Measures].[Double Avg] AS [Measures].[Avg Price] * 2 "
        "MEMBER [Measures].[Quad Avg] AS [Measures].[Double Avg] * 2 "
        "SELECT { [Measures].[Avg Price], [Measures].[Quad Avg] } "
        "ON COLUMNS, [Dim Customer].[Geografía].[Region].MEMBERS "
        "ON ROWS FROM [sales]", "VENTAS_2025")).collect()
    assert rows
    for r in rows:
        assert r["quad_avg"] == pytest.approx(4 * r["avg_price"])

    # a clause (FILTER) referencing a calc chain also materializes it
    filtered = eng.execute(parse_mdx(
        "WITH MEMBER [Measures].[Avg Price] AS "
        "[Measures].[Sum Extendedprice] / [Measures].[Sum Quantity] "
        "MEMBER [Measures].[Double Avg] AS [Measures].[Avg Price] * 2 "
        "SELECT { [Measures].[Sum Quantity] } ON COLUMNS, "
        "FILTER([Dim Customer].[Geografía].[Region].MEMBERS, "
        "[Measures].[Double Avg] > 0) ON ROWS FROM [sales]",
        "VENTAS_2025")).collect()
    assert len(filtered) == 5

    with pytest.raises(QueryValidationError, match="cycle"):
        eng.execute(parse_mdx(
            "WITH MEMBER [Measures].[A] AS [Measures].[B] + 1 "
            "MEMBER [Measures].[B] AS [Measures].[A] + 1 "
            "SELECT { [Measures].[A] } ON COLUMNS, "
            "[Dim Customer].[Geografía].[Region].MEMBERS ON ROWS "
            "FROM [sales]", "VENTAS_2025"))
