"""CLI surface: each command produces the documented JSON envelope."""
import json

import pytest

from olap_xtrctr_spark.__main__ import build_parser, run
from olap_xtrctr_spark.service import OlapService


@pytest.fixture(scope="module")
def svc(spark, sf_dir):
    return OlapService(spark, sf_dir)


def _run(svc, *argv):
    return run(build_parser().parse_args(argv), service=svc)


def test_cli_catalogs_measures(svc):
    names = [c["CATALOG_NAME"] for c in _run(svc, "catalogs")["catalogs"]]
    assert names == ["VENTAS_1998", "VENTAS_2025"]
    ms = _run(svc, "measures", "--catalog", "VENTAS_2025")["measures"]
    assert {m["aggregator"] for m in ms} <= {"SUM", "COUNT", "AVG",
                                         "DISTINCTCOUNT"}


def test_cli_members_page(svc):
    out = _run(svc, "members", "--catalog", "VENTAS_2025",
               "--dimension", "Dim Customer",
               "--hierarchy", "Dim Customer.Geografía",
               "--level", "Nation", "--limit", "7")
    assert out["total"] == 25 and len(out["members"]) == 7


def test_cli_query_and_export(svc, tmp_path):
    mdx = ("SELECT {[Measures].[Total Registros]} ON COLUMNS, "
           "NON EMPTY [Dim Customer].[Geografía].[Region].MEMBERS ON ROWS "
           "FROM [sales]")
    out = _run(svc, "query", "--catalog", "VENTAS_2025", "--mdx", mdx,
               "--export", str(tmp_path / "r.json"))
    assert out["rowCount"] == 5 and out["exported_to"].endswith("r.json")
    dumped = json.load(open(tmp_path / "r.json"))
    assert dumped["count"] == 5


def test_cli_explain_and_dmv(svc):
    mdx = ("SELECT {[Measures].[Sum Quantity]} ON COLUMNS, "
           "[Dim Orders].[Estado].[Estado].MEMBERS ON ROWS FROM [sales]")
    ex = _run(svc, "explain", "--catalog", "VENTAS_2025", "--mdx", mdx)
    assert ex["estimated_rows"] == 3 and "plan" in ex
    dmv = _run(svc, "dmv", "--sql",
               "SELECT [MEASURE_NAME] FROM $system.MDSCHEMA_MEASURES")
    assert dmv["count"] == 6   # incl. hidden Sum Tax + r9 Distinct Orders
    diag = _run(svc, "diagnose")
    assert "MDSCHEMA_MEMBERS" in diag["rowsets"]


def test_cli_workload_list_run_export(svc, tmp_path):
    names = _run(svc, "workload", "--list")["queries"]
    assert "docs_keep_canonical" in names and "tpch_q1_pricing_summary" in names
    out = _run(svc, "workload", "--name", "docs_hash_split", "--limit", "5")
    assert out["columns"] == ["doc_id", "split"]
    assert len(out["preview"]) == 5 and out["truncated"]
    out = _run(svc, "workload", "--name", "events_type_user_distinct",
               "--limit", "0", "--export", str(tmp_path / "w.csv"))
    assert out["n_rows"] > 0 and out["exported_to"].endswith("w.csv")
    assert (tmp_path / "w.csv").exists()


# ---- one-shot env-var action relay ---------------------------------------
# backend/actions_runner.py:18-21,368-421: ACTION/CATALOG/PARAMS/REQUEST_ID
# in, result.json envelope out, per-action data payloads.

def _run_action(svc, tmp_path, monkeypatch, action, catalog="VENTAS_2025",
                params=None, request_id="req-1"):
    monkeypatch.setenv("ACTION", action)
    monkeypatch.setenv("CATALOG", catalog)
    monkeypatch.setenv("PARAMS", json.dumps(params or {}))
    monkeypatch.setenv("REQUEST_ID", request_id)
    out = str(tmp_path / f"{action}.json")
    res = _run(svc, "action", "--out", out)
    assert json.load(open(out)) == json.loads(json.dumps(res, default=str))
    assert res["request_id"] == request_id and res["action"] == action
    return res


def test_action_get_catalogs(svc, tmp_path, monkeypatch):
    res = _run_action(svc, tmp_path, monkeypatch, "get_catalogs")
    assert res["status"] == "success"
    # actions_runner.py:61-82 envelope (golden: request id test 002)
    cats = res["data"]["catalogs"]
    assert {c["name"] for c in cats} == {"VENTAS_1998", "VENTAS_2025"}
    assert all(set(c) == {"name", "description", "created"}
               for c in cats)


def test_action_discover_structure(svc, tmp_path, monkeypatch):
    res = _run_action(svc, tmp_path, monkeypatch, "discover_structure")
    assert res["status"] == "success"
    d = res["data"]
    assert d["main_cube"] == "sales"
    assert {x["DIMENSION_NAME"] for x in d["dimensions"]} >= \
        {"Dim Customer", "Dim Orders"}


def test_action_discover_metadata(svc, tmp_path, monkeypatch):
    res = _run_action(svc, tmp_path, monkeypatch, "discover_metadata")
    levels = res["data"]["levels"]
    props = res["data"]["properties"]
    assert any(lv["LEVEL_UNIQUE_NAME"] ==
               "[Dim Customer].[Geografía].[Nation]" for lv in levels)
    assert any(p["PROPERTY_CAPTION"] == "Region" for p in props)


def test_action_diagnose_and_apartados(svc, tmp_path, monkeypatch):
    res = _run_action(svc, tmp_path, monkeypatch, "diagnose_schema")
    assert "MDSCHEMA_LEVELS" in res["data"]
    res = _run_action(svc, tmp_path, monkeypatch, "get_apartados")
    assert res["status"] == "success"
    # actions_runner.py:114-180 envelope (golden: apartados_sis2025)
    assert res["data"]["dimension"] == "[DIM VARIABLES2025]"
    aps = res["data"]["apartados"]
    assert len(aps) > 0 and all(
        set(a) == {"MEMBER_UNIQUE_NAME", "MEMBER_CAPTION"} for a in aps)


def test_action_execute_mdx_and_query(svc, tmp_path, monkeypatch):
    mdx = ("SELECT {[Measures].[Total Registros]} ON COLUMNS, "
           "NON EMPTY [Dim Customer].[Geografía].[Region].MEMBERS ON ROWS "
           "FROM [sales]")
    res = _run_action(svc, tmp_path, monkeypatch, "execute_mdx",
                      params={"mdx": mdx})
    assert res["status"] == "success" and res["data"]["rowCount"] == 5
    # builder path: measures-only select + member filter (no raw mdx)
    res = _run_action(svc, tmp_path, monkeypatch, "execute_query", params={
        "cube": "sales",
        "select": ["[Measures].[Total Registros]"],
        "filters": [{"member_unique_name":
                     "[Dim Customer].[Geografía].[Region].&[0]"}]})
    assert res["status"] == "success" and res["data"]["rowCount"] == 1


def test_action_unknown_and_error_envelope(svc, tmp_path, monkeypatch):
    res = _run_action(svc, tmp_path, monkeypatch, "no_such_action")
    assert res["status"] == "error" and "Unknown action" in res["error"]
    res = _run_action(svc, tmp_path, monkeypatch, "execute_mdx",
                      params={"mdx": "WITH MEMBER nope"})
    assert res["status"] == "error" and res["request_id"] == "req-1"


def test_cli_workbook_export(svc, tmp_path):
    out = str(tmp_path / "meta.xlsx")
    res = _run(svc, "workbook", "--out", out)
    assert res["path"] == out and res["sheets"]["RESUMEN"] == 3
    import zipfile
    with zipfile.ZipFile(out) as zf:
        assert len([n for n in zf.namelist()
                    if n.startswith("xl/worksheets/")]) == len(res["sheets"])


def test_cli_maintain_compact_and_shards(svc, tmp_path):
    src = str(tmp_path / "frag")
    svc.spark.range(5_000).repartition(16).write.parquet(src)
    res = _run(svc, "maintain", "--op", "compact",
               "--src", src, "--dst", str(tmp_path / "out"))
    assert res["files_before"] == 16 and res["files_after"] == 1
    res = _run(svc, "maintain", "--op", "shards",
               "--src", src, "--dst", str(tmp_path / "shards"))
    assert res["total_rows"] == 5_000
    res = _run(svc, "maintain", "--op", "verify-shards",
               "--src", str(tmp_path / "shards"))
    assert res == {"ok": True, "problems": []}


def test_action_bad_params_json_still_writes_envelope(svc, tmp_path,
                                                      monkeypatch):
    monkeypatch.setenv("ACTION", "execute_mdx")
    monkeypatch.setenv("CATALOG", "VENTAS_2025")
    monkeypatch.setenv("PARAMS", "{not json")
    monkeypatch.setenv("REQUEST_ID", "req-bad")
    out = str(tmp_path / "bad.json")
    res = _run(svc, "action", "--out", out)
    assert res["status"] == "error" and "PARAMS" in res["error"]
    assert json.load(open(out))["request_id"] == "req-bad"


def test_action_startup_failure_writes_envelope(tmp_path, monkeypatch):
    """Even a pre-dispatch failure (Spark startup, bad sf dir) must land
    in result.json — the relay consumer never reads stack traces."""
    import olap_xtrctr_spark.__main__ as M

    def boom(args, service=None):
        raise RuntimeError("spark exploded")

    monkeypatch.setattr(M, "run", boom)
    monkeypatch.setenv("REQUEST_ID", "r-fail")
    monkeypatch.setenv("ACTION", "get_catalogs")
    out = str(tmp_path / "env.json")
    rc = M.main(["action", "--out", out])
    assert rc == 1
    env = json.load(open(out))
    assert env["status"] == "error" and env["request_id"] == "r-fail"
    assert "spark exploded" in env["error"]


def test_cli_dmv_catalog_selects_cube(svc):
    r25 = _run(svc, "dmv", "--sql",
               "SELECT [CUBE_NAME] FROM $system.MDSCHEMA_MEASURES",
               "--catalog", "VENTAS_2025")
    r98 = _run(svc, "dmv", "--sql",
               "SELECT [CUBE_NAME] FROM $system.MDSCHEMA_MEASURES",
               "--catalog", "VENTAS_1998")
    cubes25 = {row[0] for row in r25["data"]}
    cubes98 = {row[0] for row in r98["data"]}
    assert cubes25 and cubes98 and cubes25 != cubes98


def test_cli_versioned_table_roundtrip(tmp_path, spark):
    """commit-version twice, then list the chain via the CLI dispatch."""
    from olap_xtrctr_spark.__main__ import build_parser, run

    src1, src2 = str(tmp_path / "s1"), str(tmp_path / "s2")
    spark.createDataFrame([(1, "a")], "id long, x string") \
         .write.parquet(src1)
    spark.createDataFrame([(1, "a", 2.0)], "id long, x string, y double") \
         .write.parquet(src2)
    tbl = str(tmp_path / "tbl")
    p = build_parser()
    m1 = run(p.parse_args(["maintain", "--op", "commit-version",
                           "--src", src1, "--dst", tbl]))
    m2 = run(p.parse_args(["maintain", "--op", "commit-version",
                           "--src", src2, "--dst", tbl]))
    assert (m1["version"], m2["version"]) == (1, 2)
    listing = run(p.parse_args(["maintain", "--op", "versions",
                                "--src", tbl]))
    assert [v["version"] for v in listing["versions"]] == [1, 2]
    assert listing["schema_changes"][0]["added"] == ["y"]


def test_cli_rollback_version(tmp_path, spark):
    from olap_xtrctr_spark.__main__ import build_parser, run
    from olap_xtrctr_spark.sources import versioned as V

    tbl = str(tmp_path / "tbl")
    V.write_version(spark.createDataFrame([(1, "good")],
                                          "id long, x string"), tbl)
    V.write_version(spark.createDataFrame([(1, "bad")],
                                          "id long, x string"), tbl)
    m = run(build_parser().parse_args(
        ["maintain", "--op", "rollback-version", "--src", tbl,
         "--to-version", "1"]))
    assert m["version"] == 3 and m["rolled_back_to"] == 1


def test_cli_gc_versions(tmp_path, spark):
    from olap_xtrctr_spark.__main__ import build_parser, run
    from olap_xtrctr_spark.sources import versioned as V

    tbl = str(tmp_path / "tbl")
    V.write_version(spark.createDataFrame([(1, "a")],
                                          "id long, x string"), tbl)
    V.write_version(spark.createDataFrame([(1, "b")],
                                          "id long, x string"), tbl)
    out = run(build_parser().parse_args(
        ["maintain", "--op", "gc-versions", "--src", tbl,
         "--keep-from", "2"]))
    assert out["removed"] == ["v00001"]
    assert V.read_version(spark, tbl).collect()[0]["x"] == "b"


def test_cli_retention_keep_last_and_loud_gc_reads(tmp_path, spark):
    """VERDICT r7 task 7: retention policy end-to-end through the
    maintain CLI — keep-last removes old data dirs but keeps
    manifests; time-travel reads of swept versions raise
    VersionGCedError naming the sweep (never a silently empty frame);
    newer versions keep reading."""
    import pytest

    from olap_xtrctr_spark.__main__ import build_parser, run
    from olap_xtrctr_spark.sources import versioned as V

    tbl = str(tmp_path / "tbl")
    for i in range(4):
        V.write_version(spark.createDataFrame([(i, f"v{i + 1}")],
                                              "id long, x string"), tbl)
    res = run(build_parser().parse_args(
        ["maintain", "--op", "retention", "--src", tbl,
         "--keep-last", "2"]))
    assert res["keep_from"] == 3
    assert res["removed"] == ["v00001", "v00002"]
    # manifests survive: full history still listable
    assert [m["version"] for m in V.list_versions(tbl)] == [1, 2, 3, 4]
    # kept versions read fine
    assert V.read_version(spark, tbl, 3).collect()[0]["x"] == "v3"
    assert V.read_version(spark, tbl).collect()[0]["x"] == "v4"
    # swept versions fail LOUDLY, naming the sweep
    with pytest.raises(V.VersionGCedError, match="keep_from=3"):
        V.read_version(spark, tbl, 1)
    with pytest.raises(V.VersionGCedError, match="retention"):
        V.read_version(spark, tbl, 2)
    # re-running is idempotent
    res2 = run(build_parser().parse_args(
        ["maintain", "--op", "retention", "--src", tbl,
         "--keep-last", "2"]))
    assert res2["removed"] == []


def test_cli_retention_keep_newer_than_and_union(tmp_path, spark):
    import time as _t

    from olap_xtrctr_spark.__main__ import build_parser, run
    from olap_xtrctr_spark.sources import versioned as V

    tbl = str(tmp_path / "tbl")
    for i in range(3):
        V.write_version(spark.createDataFrame([(i,)], "id long"), tbl)
    cut = _t.time()                    # everything so far is older
    V.write_version(spark.createDataFrame([(9,)], "id long"), tbl)
    res = run(build_parser().parse_args(
        ["maintain", "--op", "retention", "--src", tbl,
         "--keep-newer-than", str(cut)]))
    assert res["keep_from"] == 4
    assert res["removed"] == ["v00001", "v00002", "v00003"]

    # union semantics: keep-last=3 would keep v2.. even though the
    # timestamp policy alone keeps only v4 — EITHER policy keeps
    tbl2 = str(tmp_path / "tbl2")
    for i in range(3):
        V.write_version(spark.createDataFrame([(i,)], "id long"), tbl2)
    cut2 = _t.time()
    V.write_version(spark.createDataFrame([(9,)], "id long"), tbl2)
    res2 = run(build_parser().parse_args(
        ["maintain", "--op", "retention", "--src", tbl2,
         "--keep-last", "3", "--keep-newer-than", str(cut2)]))
    assert res2["keep_from"] == 2 and res2["removed"] == ["v00001"]

    # policy arg required
    import pytest
    with pytest.raises(SystemExit):
        run(build_parser().parse_args(
            ["maintain", "--op", "retention", "--src", tbl2]))


def test_retention_missing_committed_at_kept(tmp_path, spark):
    """Manifests without committed_at (pre-round-8 tables) are
    conservatively KEPT by the timestamp policy."""
    import json as _json
    import time as _t

    from olap_xtrctr_spark.sources import versioned as V

    tbl = str(tmp_path / "tbl")
    for i in range(3):
        V.write_version(spark.createDataFrame([(i,)], "id long"), tbl)
    # strip the stamp from v1 (simulate an old-format manifest)
    mp = f"{tbl}/v00001.manifest.json"
    m = _json.load(open(mp))
    del m["committed_at"]
    _json.dump(m, open(mp, "w"))
    res = V.retention_sweep(tbl, keep_newer_than=_t.time() + 10)
    # v1 unstamped -> kept -> keep_from=1 keeps everything below it too
    assert res["keep_from"] == 1 and res["removed"] == []


def test_cli_ivf_build_and_query(svc, sf_dir, tmp_path):
    """maintain --op ivf-build / ivf-query: the persisted-index
    lifecycle end-to-end over the CLI (VERDICT r10 task 5)."""
    src = f"{sf_dir}/embeddings.parquet"
    idx = str(tmp_path / "ivf_idx")
    meta = _run(svc, "maintain", "--op", "ivf-build", "--src", src,
                "--dst", idx, "--n-clusters", "4")
    assert meta["n_clusters"] == 4 and meta["n_vectors"] > 0
    assert meta["corpus_sig"]
    # idempotent rebuild
    assert _run(svc, "maintain", "--op", "ivf-build", "--src", src,
                "--dst", idx, "--n-clusters", "4") == meta

    out = _run(svc, "maintain", "--op", "ivf-query", "--src", idx,
               "--queries", src, "--query-ids", "0", "1", "2",
               "--k", "2", "--n-probe", "2")
    assert out["columns"] == ["query_id", "rank", "neighbor_id",
                              "cosine"]
    per_q: dict = {}
    for r in out["rows"]:
        per_q.setdefault(r["query_id"], []).append(r["neighbor_id"])
        assert r["neighbor_id"] != r["query_id"]
    assert set(per_q) == {0, 1, 2}
    assert all(len(v) == 2 for v in per_q.values())

    # querying a never-built dir fails with the build hint
    with pytest.raises(SystemExit, match="ivf-build first"):
        _run(svc, "maintain", "--op", "ivf-query",
             "--src", str(tmp_path / "nope"), "--queries", src)
    # --queries is required
    with pytest.raises(SystemExit, match="queries"):
        _run(svc, "maintain", "--op", "ivf-query", "--src", idx)


def test_cli_dedup_soft_groups_keep(svc, tmp_path):
    """VERDICT r11 task 5: the soft-dedup pipeline (blocked Levenshtein
    -> distributed CC -> 1/|group| weights) driven end-to-end through
    the CLI facade, all three modes."""
    out = _run(svc, "dedup", "--soft", "--limit", "0")
    assert out["mode"] == "soft"
    assert out["columns"] == ["doc_id", "group_size", "weight_ppm"]
    n_docs = out["n_rows"]
    assert n_docs > 0

    # exported full result carries the exact invariants
    dst = str(tmp_path / "weights.json")
    out = _run(svc, "dedup", "--soft", "--export", dst, "--limit", "5")
    assert out["exported_to"] == dst and len(out["preview"]) == 5
    import json as _json
    with open(dst) as f:
        env = _json.load(f)              # the JSONB result envelope
    cols = env["columns"]
    rows = [dict(zip(cols, r)) for r in env["data"]]
    by_id = {r["doc_id"]: r for r in rows}
    assert len(by_id) == n_docs          # every doc exactly once
    for r in rows:
        assert int(r["weight_ppm"]) == 1_000_000 // int(r["group_size"])
    rows = [{k: int(v) for k, v in r.items()} for r in rows]

    grp = _run(svc, "dedup", "--groups", "--limit", "0")
    assert grp["columns"] == ["doc_id", "component"]
    n_grouped = grp["n_rows"]
    keep = _run(svc, "dedup", "--keep", "--limit", "0")
    # the weights table is PER DOC (a size-g group contributes g rows
    # with group_size=g), so #groups = Σ 1/g over its multi rows and
    # survivors = all docs minus (grouped rows − one canonical each)
    multi = [r for r in rows if r["group_size"] > 1]
    n_groups = sum(1 / r["group_size"] for r in multi)
    assert n_groups == int(n_groups)
    assert keep["n_rows"] == n_docs - (len(multi) - int(n_groups))
    assert n_grouped == len(multi)

    import pytest
    with pytest.raises(SystemExit, match="unknown table"):
        _run(svc, "dedup", "--soft", "--table", "nope")


def test_cli_maintain_ivfpq_build_query(svc, tmp_path):
    """The compressed-index lifecycle through the maintain CLI: build
    from a parquet corpus, ADC query, exact-refined query."""
    import glob

    src = glob.glob("/root/testdata/sf0.001/embeddings.parquet")[0]
    idx = str(tmp_path / "pqidx")
    meta = _run(svc, "maintain", "--op", "ivfpq-build",
                "--src", src, "--dst", idx)
    assert meta["kind"] == "ivfpq-frozen" and meta["n_vectors"] == 500
    out = _run(svc, "maintain", "--op", "ivfpq-query", "--src", idx,
               "--queries", src, "--query-ids", "0", "1",
               "--k", "2", "--n-probe", "3")
    assert out["columns"] == ["query_id", "rank", "neighbor_id",
                              "adc_score"]
    assert {r["query_id"] for r in out["rows"]} == {0, 1}
    ref = _run(svc, "maintain", "--op", "ivfpq-query", "--src", idx,
               "--queries", src, "--query-ids", "0", "1",
               "--k", "2", "--n-probe", "3", "--refine")
    assert ref["columns"] == ["query_id", "rank", "neighbor_id",
                              "cosine"]


def test_cli_dedup_semantic_mode(svc):
    """--semantic switches the facade to embedding-space SemDeDup over
    the frozen cells (defaults flip to embeddings/vec_id) and matches
    the workload corpus entry's keep count."""
    out = _run(svc, "dedup", "--semantic", "--limit", "0")
    assert out["mode"] == "semantic" and out["table"] == "embeddings"
    from olap_xtrctr_spark.operators.similarity import \
        semantic_dedup_frozen
    from olap_xtrctr_spark.session import load_table
    emb = load_table(svc.spark, svc.sf_dir, "embeddings")
    assert out["n_rows"] == semantic_dedup_frozen(emb).count()


def test_cli_sources_rank_and_drift(svc, tmp_path):
    """Round-13 governance facade: both modes through the CLI, export
    envelope included."""
    out = _run(svc, "sources", "--rank", "--limit", "0")
    assert out["mode"] == "rank"
    assert out["columns"] == ["source", "pr_ppb"]
    assert out["n_rows"] == 20

    dst = str(tmp_path / "pr.json")
    out = _run(svc, "sources", "--rank", "--export", dst, "--limit", "3")
    assert out["exported_to"] == dst and len(out["preview"]) == 3
    with open(dst) as f:
        env = json.load(f)
    assert env["columns"] == ["source", "pr_ppb"] and len(env["data"]) == 20

    out = _run(svc, "sources", "--drift", "--top-dims", "1", "--limit", "0")
    assert out["columns"] == ["source", "dim", "mean_diff", "rank"]
    assert out["n_rows"] == 20          # one top dim per source

    with pytest.raises(SystemExit):
        _run(svc, "sources", "--rank", "--iters", "0")

    out = _run(svc, "sources", "--audit", "--top-seeds", "3",
               "--limit", "0")
    assert out["mode"] == "audit"
    assert out["columns"] == ["source", "pr_ppb"] and out["n_rows"] == 20
    with pytest.raises(SystemExit):
        _run(svc, "sources", "--audit", "--top-seeds", "0")


def test_cli_dedup_semantic_named_table_keeps_vector_id(svc):
    """Naming the vector table leaves the id column to the mode's
    default: ``--semantic --table embeddings`` keys on ``vec_id``,
    exactly like bare ``--semantic``."""
    named = _run(svc, "dedup", "--semantic", "--table", "embeddings",
                 "--limit", "0")
    assert named["table"] == "embeddings"
    assert named["n_rows"] == _run(svc, "dedup", "--semantic",
                                   "--limit", "0")["n_rows"]
