"""The scripts directory stays runnable and the docs point only at
scripts that exist.  No Spark session is started here."""
import py_compile
import re
import shlex
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
SCRIPTS = sorted((ROOT / "scripts").glob("*.py"))


@pytest.mark.parametrize("path", SCRIPTS, ids=lambda p: p.name)
def test_script_byte_compiles(path, tmp_path):
    py_compile.compile(str(path), cfile=str(tmp_path / "out.pyc"),
                       doraise=True)


def test_measure_help_starts_no_jvm():
    """``--help`` exits 0 before pyspark is even imported."""
    probe = (
        "import runpy, sys\n"
        "sys.argv = ['measure.py', '--help']\n"
        "try:\n"
        "    runpy.run_path(%r, run_name='__main__')\n"
        "except SystemExit as e:\n"
        "    assert e.code in (0, None), e.code\n"
        "print('pyspark loaded:', 'pyspark' in sys.modules)\n"
        % str(ROOT / "scripts" / "measure.py"))
    out = subprocess.run([sys.executable, "-c", probe], cwd=ROOT,
                         capture_output=True, text=True, timeout=60)
    assert out.returncode == 0, out.stderr
    assert "--replica" in out.stdout
    assert "pyspark loaded: False" in out.stdout


@pytest.mark.parametrize("doc", ["README.md", "ROADMAP.md",
                                 ".claude/skills/verify/SKILL.md"])
def test_docs_name_only_existing_scripts(doc):
    """A ``scripts/<name>.py`` path in a living doc names a file in the
    tree; ``<commit>:scripts/<name>.py`` is a git object, not checked."""
    text = (ROOT / doc).read_text(encoding="utf-8")
    named = set(re.findall(r"(?<![:\w])scripts/(\w+)\.py", text))
    missing = sorted(n for n in named
                     if not (ROOT / "scripts" / f"{n}.py").exists())
    assert not missing, missing


def _readme_cli_commands() -> list[list[str]]:
    """Every ``python -m olap_xtrctr_spark ...`` command in README.md's
    fenced code blocks as an argv list: ``\\`` continuations joined,
    a trailing ``&``, a ``&& ...`` chain and a ``# ...`` comment
    dropped."""
    text = (ROOT / "README.md").read_text(encoding="utf-8")
    prefix = "python -m olap_xtrctr_spark"
    cmds = []
    for block in re.findall(r"^```[^\n]*\n(.*?)^```", text, re.S | re.M):
        for line in block.replace("\\\n", " ").splitlines():
            for tail in line.split(prefix)[1:]:
                argv = shlex.split(tail.split("&&")[0], comments=True)
                if argv and argv[-1] == "&":
                    argv.pop()
                cmds.append(argv)
    return cmds


def test_readme_cli_examples_parse():
    """The documented CLI flags stay in step with the parser."""
    from olap_xtrctr_spark.__main__ import build_parser

    cmds = _readme_cli_commands()
    assert len(cmds) >= 20, cmds
    bad = []
    for argv in cmds:
        try:
            build_parser().parse_args(argv)
        except SystemExit:
            bad.append(" ".join(argv))
    assert not bad, bad


def test_workload_md_matches_generator():
    """The checked-in WORKLOAD.md is exactly what
    ``scripts/gen_workload_md.py`` renders from the workload registry
    (importing the registry starts no JVM)."""
    import runpy
    gen = runpy.run_path(str(ROOT / "scripts" / "gen_workload_md.py"))
    assert (ROOT / "WORKLOAD.md").read_text(encoding="utf-8") \
        == gen["render"]()
