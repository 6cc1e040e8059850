"""Registry layout guards: one ``register`` per family module, no
round-named modules or functions, one name prefix per module, and a
duplicate entry name fails the build instead of replacing an entry.
No JVM: registering builds callables and oracle strings only."""
import ast
import re
from pathlib import Path

import pytest

from olap_xtrctr_spark import workload as W

PKG = Path(W.__file__).resolve().parent
FAMILY_MODULES = sorted(p for p in (PKG / "workloads").glob("*.py")
                        if p.name != "__init__.py")
ROUND_NAME = re.compile(r"wave\d|_r\d")


def _registered(mod) -> list[str]:
    names: list[str] = []
    mod.register(lambda name, fn, sql: names.append(name))
    return names


def test_every_family_module_defines_one_register():
    for path in FAMILY_MODULES:
        tree = ast.parse(path.read_text())
        regs = [n.name for n in tree.body
                if isinstance(n, ast.FunctionDef)
                and n.name.startswith("register")]
        assert regs == ["register"], f"{path.name}: {regs}"


def test_build_registers_every_family_module():
    assert sorted(m.__name__.rsplit(".", 1)[1] for m in W._MODULES) == \
        sorted(p.stem for p in FAMILY_MODULES)


def test_no_module_or_function_is_named_after_a_round():
    for path in sorted(PKG.rglob("*.py")):
        assert not ROUND_NAME.search(path.stem), path
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                 ast.ClassDef)):
                assert not ROUND_NAME.search(node.name), \
                    f"{path.relative_to(PKG)}: {node.name}"


def test_each_module_holds_one_entry_family():
    for mod in W._MODULES:
        stem = mod.__name__.rsplit(".", 1)[1]
        allowed = (("members_", "dmv_") if stem == "members_nav"
                   else (stem.split("_")[0] + "_",))
        names = _registered(mod)
        assert names, stem
        strays = [n for n in names if not n.startswith(allowed)]
        assert not strays, f"{stem}: {strays}"


def test_workload_is_the_union_of_the_family_modules():
    names = [n for mod in W._MODULES for n in _registered(mod)]
    assert len(names) == len(set(names)) == len(W.WORKLOAD)
    assert set(names) == set(W.WORKLOAD)
    assert list(W.WORKLOAD)[:W._GATE_WINDOW] == W._GATE_FRONT


def test_duplicate_entry_name_fails_the_build(monkeypatch):
    class Twice:
        @staticmethod
        def register(add):
            add("cube_nation_sales", None, None)

    monkeypatch.setattr(W, "_MODULES", W._MODULES + (Twice,))
    with pytest.raises(ValueError, match="cube_nation_sales"):
        W.build_workload()
