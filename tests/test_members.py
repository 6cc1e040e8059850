"""Member navigation operators over the generated members table."""
import pytest

from olap_xtrctr_spark import members as M
from olap_xtrctr_spark.cube import sales_cube
from olap_xtrctr_spark.metadata import members_df


@pytest.fixture(scope="module")
def mdf(spark, sf_dir):
    return members_df(spark, sales_cube(), sf_dir).cache()


def test_level_filter_and_all_suppression(mdf):
    out = M.get_dimension_members(
        mdf, "Dim Customer", "Dim Customer.Geografía", "Region").collect()
    assert len(out) == 5
    assert all(r["MIEMBRO_CAPTION"] != "All" for r in out)
    caps = [r["MIEMBRO_CAPTION"] for r in out]
    assert caps == sorted(caps)  # N4 caption sort


def test_depth_inference_old_cube_path(mdf):
    levels = M.extract_levels_from_unique_names(
        mdf, "Dim Customer", "Dim Customer.Geografía")
    assert levels[0] == {"level_name": "Region", "level_depth": 1}
    assert levels[1]["level_name"] == "Nivel 2"
    assert len(levels) == 3


def test_children_exact_vs_prefix(mdf):
    parent = "[Dim Customer].[Geografía].[Region].&[2]"
    exact = M.children_of(mdf, [parent]).collect()
    prefix = M.children_of(mdf, [parent], prefix_fallback=True).collect()
    # prefix matching also catches grandchildren (depth 3)
    assert {r["MIEMBRO_UNIQUE_NAME"] for r in exact} <= \
        {r["MIEMBRO_UNIQUE_NAME"] for r in prefix}
    assert all(r["PARENT_UNIQUE_NAME"] == parent for r in exact)


def test_apartado_variable_convention(mdf):
    ap = M.get_apartados(mdf).collect()
    assert all("Brand#" in r["MIEMBRO_CAPTION"] for r in ap)
    va = M.get_variables(mdf)
    assert va.count() > len(ap)


def test_pagination_stable(mdf):
    p1 = M.paginate_members(mdf, "Dim Customer", "Dim Customer.Geografía",
                            "Nation", limit=10, offset=0).collect()
    p2 = M.paginate_members(mdf, "Dim Customer", "Dim Customer.Geografía",
                            "Nation", limit=10, offset=10).collect()
    assert [r["rn"] for r in p1] == list(range(1, 11))
    assert [r["rn"] for r in p2] == list(range(11, 21))
    assert {r["MIEMBRO_CAPTION"] for r in p1}.isdisjoint(
        {r["MIEMBRO_CAPTION"] for r in p2})


def test_month_ordinal_sort(mdf):
    out = M.members_sorted(mdf, "D Tiempo", "D Tiempo.Calendario",
                           "Mes").collect()
    # Enero (ordinal 1) must precede Febrero (2) regardless of alphabet
    by_rank = [r["MIEMBRO_CAPTION"] for r in sorted(out, key=lambda r: r["rn"])]
    assert by_rank.index("Enero") < by_rank.index("Febrero") \
        < by_rank.index("Marzo")


def test_cardinality_product(mdf):
    est = M.estimate_query_cardinality(
        mdf, [("Dim Customer", "Dim Customer.Geografía", "Region"),
              ("Dim Orders", "Dim Orders.Estado", "Estado")])
    assert est == 5 * 3


def test_search_case_insensitive(mdf):
    hits = M.search_members(mdf, "europe").collect()
    assert any(r["MIEMBRO_CAPTION"] == "EUROPE" for r in hits)


def test_fulltext_search_tokenized(mdf):
    """N17: every term must match a token — order-independent AND,
    which the substring baseline cannot do; accents fold."""
    caps = {r["MIEMBRO_CAPTION"]
            for r in M.fulltext_search_members(mdf, "east middle").collect()}
    assert caps == {"MIDDLE EAST"}
    # substring baseline misses the reversed-order query entirely
    assert not M.search_members(mdf, "east middle").collect()
    # single term still works, accent-folded query matches plain caption
    assert {r["MIEMBRO_CAPTION"] for r in
            M.fulltext_search_members(mdf, "éast").collect()} \
        == {"MIDDLE EAST"}
    assert M.fulltext_search_members(mdf, "  ").collect() == []


def test_fulltext_uppercase_accent_fold(spark):
    """Caption side must lower BEFORE folding: an uppercase accented
    caption ('TÉCNICAS') has to match the plain query 'tecnicas' — the
    old translate-then-lower order left 'É'→'é' unfolded."""
    rows = [("Dim X", "H", "L", "CONSULTAS TÉCNICAS", "[Dim X].[H].&[1]")]
    df = spark.createDataFrame(
        rows, "DIMENSION string, JERARQUIA string, NIVEL_NOMBRE string, "
              "MIEMBRO_CAPTION string, MIEMBRO_UNIQUE_NAME string")
    caps = {r["MIEMBRO_CAPTION"] for r in
            M.fulltext_search_members(df, "tecnicas consultas").collect()}
    assert caps == {"CONSULTAS TÉCNICAS"}


def test_stem_es_python_side():
    """The shared Spanish suffix stripper: longest listed suffix wins,
    stems shorter than 3 chars are never produced."""
    assert M.stem_es("consultas") == "consulta"
    assert M.stem_es("regiones") == "region"
    assert M.stem_es("rapidamente") == "rapid"
    assert M.stem_es("proveedores") == "proveedor"
    assert M.stem_es("widgets") == "widget"
    assert M.stem_es("mes") == "mes"      # stem would drop below 3 chars
    assert M.stem_es("la") == "la"        # too short to touch
    assert M.stem_es("blue") == "blue"    # no listed suffix


def test_fulltext_stemmed_matches_plural_query(spark):
    """N17 stemmed mode: plural/derived query terms meet singular caption
    tokens at the same stem — to_tsvector('spanish') lexeme behavior.
    The unstemmed tokenized-AND baseline cannot make this match."""
    rows = [("Dim X", "H", "L", "CONSULTA TÉCNICA", "[Dim X].[H].&[1]"),
            ("Dim X", "H", "L", "blue widget", "[Dim X].[H].&[2]"),
            ("Dim X", "H", "L", "red gear", "[Dim X].[H].&[3]")]
    df = spark.createDataFrame(
        rows, "DIMENSION string, JERARQUIA string, NIVEL_NOMBRE string, "
              "MIEMBRO_CAPTION string, MIEMBRO_UNIQUE_NAME string")
    caps = {r["MIEMBRO_CAPTION"] for r in
            M.fulltext_search_members(df, "consultas técnicas",
                                      stem=True).collect()}
    assert caps == {"CONSULTA TÉCNICA"}
    caps = {r["MIEMBRO_CAPTION"] for r in
            M.fulltext_search_members(df, "blue widgets",
                                      stem=True).collect()}
    assert caps == {"blue widget"}
    # unstemmed baseline misses the plural
    assert M.fulltext_search_members(df, "blue widgets").collect() == []


def test_members_disk_cache_roundtrip(spark, sf_dir):
    """X5: the parquet spill serves identical rows on a cold process."""
    from olap_xtrctr_spark import metadata
    from olap_xtrctr_spark.cube import sales_cube
    cube = sales_cube()
    metadata._MEMBERS_CACHE.clear()
    first = metadata.cached_members_df(spark, cube, sf_dir)
    direct = {tuple(r) for r in metadata.members_df(spark, cube, sf_dir)
              .collect()}
    assert {tuple(r) for r in first.collect()} == direct
    # simulate a new process: memo cleared, disk cache present
    metadata._MEMBERS_CACHE.clear()
    again = metadata.cached_members_df(spark, cube, sf_dir)
    assert {tuple(r) for r in again.collect()} == direct
    # a structurally different cube gets a different cache key
    other = sales_cube(catalog="OTRO_2026")
    assert (metadata._disk_cache_path(spark, other, sf_dir)
            != metadata._disk_cache_path(spark, cube, sf_dir))


def test_level_inference_from_unique_names(mdf):
    """N6/N7: level names derived from the 50 longest unique names."""
    from olap_xtrctr_spark.members import extract_levels_from_unique_names
    levels = extract_levels_from_unique_names(
        mdf, "Dim Customer", "Dim Customer.Geografía")
    # depth 1 carries the encoded level-1 name; deeper depths synthesize
    # 'Nivel N' (old-cube heuristic)
    assert levels == [
        {"level_name": "Region", "level_depth": 1},
        {"level_name": "Nivel 2", "level_depth": 2},
        {"level_name": "Nivel 3", "level_depth": 3},
    ]


def test_mdschema_functions_matches_parser_dispatch(spark):
    """The FUNCTIONS rowset's set-wrapper block must BE the parser's
    dispatch list — enumerated from the same constant, checked here so
    a wrapper added to one side without the other fails loudly."""
    from olap_xtrctr_spark.mdx import _SET_WRAPPERS
    from olap_xtrctr_spark.metadata import mdschema_functions_df
    rows = mdschema_functions_df(spark).collect()
    by_name = {r["FUNCTION_NAME"]: r for r in rows}
    for f in _SET_WRAPPERS:
        assert f in by_name, f
        assert by_name[f]["RETURN_TYPE"] == "Set"
    # the numeric calc functions the measure-expression parser accepts
    for f in ("SUM", "AGGREGATE", "MEDIAN", "MIN", "MAX", "RANK"):
        assert by_name[f]["RETURN_TYPE"] == "Scalar"
    assert len(by_name) == len(rows)      # no duplicate names


def test_members_memo_follows_cube_redefinition(spark, sf_dir, tmp_path,
                                                monkeypatch):
    """A cube redefined in-process under the same name serves its own
    members, through the memo and the service alike, with no manual
    memo clear: the memo is keyed by the cube's structure fingerprint,
    as the disk spill is."""
    from olap_xtrctr_spark import metadata
    from olap_xtrctr_spark.cube import CubeRegistry
    from olap_xtrctr_spark.service import OlapService

    monkeypatch.setattr(
        metadata, "_disk_cache_path",
        lambda spark, cube, sf: str(
            tmp_path / metadata._cube_fingerprint(cube)))
    hier = "Dim Customer.Segmento"

    def define(with_segment: bool):
        cube = sales_cube(catalog="MEMO_PROBE", name="memo_probe")
        if not with_segment:
            del cube.dimensions["Dim Customer"].hierarchies["Segmento"]
        reg = CubeRegistry()
        reg.register(cube)
        return cube, OlapService(spark, sf_dir, registry=reg)

    def hierarchies(df):
        return {r[0] for r in df.select("JERARQUIA").distinct().collect()}

    before = dict(metadata._MEMBERS_CACHE)
    try:
        cube, svc = define(with_segment=True)
        assert hier in hierarchies(
            metadata.cached_members_df(spark, cube, sf_dir))
        assert svc.get_members("MEMO_PROBE", "Dim Customer", hier,
                               "Segmento")["total"] > 0

        cube, svc = define(with_segment=False)
        assert hier not in hierarchies(
            metadata.cached_members_df(spark, cube, sf_dir))
        assert svc.get_members("MEMO_PROBE", "Dim Customer", hier,
                               "Segmento")["total"] == 0
    finally:
        for key in set(metadata._MEMBERS_CACHE) - set(before):
            metadata._MEMBERS_CACHE.pop(key).unpersist()


def test_members_cache_miss_is_single_flight(spark, sf_dir, tmp_path,
                                             monkeypatch):
    """Two threads missing the same (cube, sf_dir) build and spill the
    members table once and get the same cached frame; without the lock
    both overwrite the spill, each reading files the other deletes."""
    import threading
    import time

    from olap_xtrctr_spark import metadata
    cube = sales_cube()
    key = metadata._members_key(cube, sf_dir)
    builds = []
    build = metadata.members_df

    def slow_build(*a, **kw):
        builds.append(threading.current_thread().name)
        time.sleep(1.0)     # hold the miss open for the other thread
        return build(*a, **kw)
    monkeypatch.setattr(metadata, "members_df", slow_build)
    monkeypatch.setattr(metadata, "_disk_cache_path",
                        lambda spark, cube, sf: str(tmp_path / "spill"))
    prev = metadata._MEMBERS_CACHE.pop(key, None)
    start = threading.Barrier(2)
    got, errors = {}, []

    def first_request(name):
        start.wait()
        try:
            got[name] = metadata.cached_members_df(spark, cube, sf_dir)
        except Exception as exc:   # the race surfaces as a read failure
            errors.append(exc)
    threads = [threading.Thread(target=first_request, args=(n,), name=n)
               for n in ("a", "b")]
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
        assert not errors, errors
        assert len(builds) == 1, builds
        assert got["a"] is got["b"]
        assert got["a"].count() == build(spark, cube, sf_dir).count()
    finally:
        cached = metadata._MEMBERS_CACHE.pop(key, None)
        if cached is not None:
            cached.unpersist()
        if prev is not None:
            metadata._MEMBERS_CACHE[key] = prev


# ---- the driver-local index against the Spark path ------------------------

def _spark_pages(mdf, level, cases):
    """``paginate_members`` bodies for every (offset, limit) in
    ``cases``, one job: the branches of a union, tagged by case."""
    from functools import reduce

    from pyspark.sql import functions as F
    pages = [M.paginate_members(mdf, *level, limit=lim, offset=off)
             .withColumn("_case", F.lit(i))
             for i, (off, lim) in enumerate(cases)]
    out = [[] for _ in cases]
    for r in reduce(lambda a, b: a.unionByName(b), pages).collect():
        row = r.asDict()
        out[row.pop("_case")].append(row)
    return out


def _index_key(row):
    return tuple(row[c] for c in M.INDEX_KEY)


def _assert_twin(mdf, index, levels, terms):
    """Pages, search, apartados and variables from ``index`` equal the
    Spark path over ``mdf``: pages as JSON bodies (key order kept),
    search as the first 1,000 of the full hit set in key order."""
    import json
    for level in levels:
        total = M.get_dimension_members(mdf, *level).count()
        cases = [(off, lim)
                 for off in (0, total // 2, total - 1, total, total + 5, -3)
                 for lim in (0, 1, 1000)]
        for (off, lim), rows in zip(cases, _spark_pages(mdf, level, cases)):
            spark_body = {"members": rows, "total": total}
            got, got_total = index.page(*level, limit=lim, offset=off)
            assert json.dumps({"members": got, "total": got_total}) \
                == json.dumps(spark_body), (level, off, lim)
    for term in terms:
        hits = [r.asDict() for r in M.search_members(mdf, term).collect()]
        assert index.search(term) == sorted(hits, key=_index_key)[:1000], \
            term
    apartados = [r.asDict() for r in M.get_apartados(mdf).collect()]
    assert index.apartados() == apartados
    names = [a["MIEMBRO_UNIQUE_NAME"] for a in apartados]
    for sel in (names[:1], names[:3], names):
        got = index.children(sel)
        want = [r.asDict() for r in M.children_of(mdf, sel).collect()]
        assert sorted(got, key=repr) == sorted(want, key=repr)
        assert got == sorted(
            got, key=lambda r: (r["MIEMBRO_CAPTION"],
                                r["MIEMBRO_UNIQUE_NAME"]))


def test_member_index_equals_spark_path(spark, sf_dir):
    """Every level of the sales cube, every benchmark search term: the
    index the service answers from gives the Spark path's replies."""
    import sys
    from pathlib import Path

    from olap_xtrctr_spark.service import OlapService
    perfbench = str(Path(__file__).resolve().parents[1] / "perfbench")
    if perfbench not in sys.path:
        sys.path.insert(0, perfbench)
    from sessions import SEARCH_TERMS

    svc = OlapService(spark, sf_dir)
    cube = svc.registry.resolve("VENTAS_2025")
    levels = [(d.name, f"{d.name}.{h.name}", lv.name)
              for d in cube.dimensions.values()
              for h in d.hierarchies.values() for lv in h.levels]
    index = svc._member_index("VENTAS_2025")
    assert set(index.levels) == set(levels)
    assert index.apartados()
    _assert_twin(svc._members("VENTAS_2025"), index, levels,
                 SEARCH_TERMS + ["EUROPE"])


def test_member_index_folds_case_as_the_jvm(spark):
    """Captions whose upper case differs between Java (and Python) and
    Arrow's utf8_upper: 'ß' → 'SS' and 'ﬁ' → 'FI', where utf8_upper
    gives 'ẞ' and keeps 'ﬁ'; dotted and dotless i under the en-US
    locale the session pins."""
    import pyarrow as pa
    caps = ["straße", "ﬁne", "Año", "İx", "ıi", "All", None, "Ärger",
            "fine"]
    level = ("Dim X", "Dim X.H", "L")
    table = pa.table({
        "DIMENSION": [level[0]] * len(caps),
        "JERARQUIA": [level[1]] * len(caps),
        "NIVEL_NOMBRE": [level[2]] * len(caps),
        "MIEMBRO_CAPTION": caps,
        "MIEMBRO_UNIQUE_NAME": [f"[Dim X].[H].&[{i}]"
                                for i in range(len(caps))],
        "PARENT_UNIQUE_NAME": ["[Dim X].[H].&[p]"] * len(caps),
        "CHILDREN_CARDINALITY": pa.array([0] * len(caps), pa.int64()),
    })
    index = M.MemberIndex(table)
    assert index.levels == {level: (0, len(caps) - 2)}
    mdf = spark.createDataFrame(table.to_pandas())
    _assert_twin(mdf, index, [level],
                 ["strasse", "ß", "SS", "fi", "año", "AÑO", "İ", "ı", "i",
                  "x", "ä"])
    assert [r["MIEMBRO_CAPTION"] for r in index.search("fi")] \
        == ["fine", "ﬁne"]
    hits = [r.asDict() for r in M.search_members(mdf, "e").collect()]
    assert len(hits) == 4
    assert index.search("e", limit=2) == sorted(hits, key=_index_key)[:2]
