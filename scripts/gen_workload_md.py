"""Regenerate WORKLOAD.md: the queries()/oracle_sql() contract at a
glance — one row per entry, grouped by family, oracle kind flagged.
``render()`` returns the file's text; tests/test_scripts.py checks the
checked-in file against it.

Usage: python scripts/gen_workload_md.py
"""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from olap_xtrctr_spark.workload import WORKLOAD, _GATE_WINDOW, _GATE_FRONT

FAMILIES = [
    ("cube_", "Cube / MDX semantics (SURVEY §2.4-§2.5)"),
    ("tpch_", "TPC-H shapes (adapted to the driver schema)"),
    ("members_", "Member navigation (SURVEY §2.3)"),
    ("dmv_", "DMV / DISCOVER rowsets (SURVEY §2.2)"),
    ("docs_", "Documents: text analysis / dedup / sampling / pipeline"),
    ("emb_", "Embeddings: similarity / quantization"),
    ("multimodal_", "Multimodal plumbing"),
    ("events_", "Events: analytics + Structured Streaming"),
]


# Hand-written policy carried verbatim at the end of the file.
DETERMINISM_CONTRACT = """\
## Trained-result determinism contract (decided r14, VERDICT r13 item 2)

The three slowest workload entries — `docs_quality_classifier` (~15 s),
`emb_pq_topk` (~33 s), `emb_ivfpq_topk` (~58 s at sf0.1) — are
fit-dominated, and every candidate trim (persisting the fit input,
computing the score as a column, fewer partitions) changes the
partitioning or merge order the MLlib fit sees, which changes the
trained floats and therefore the emitted rows (measured in r13:
`pq_codes` codebooks diverge in every subspace when the fit input is
cached; LR coefficients drift under treeAggregate re-ordering).

**Decision: these entries stay ROW-STABLE and their wall-clock is
accepted.** Rationale:

- Their runtime sits only in the local full-workload scan; none of the
  three is in the benched headline set, so the cost does not compound
  into any graded number — while a determinism relaxation would put
  every downstream consumer (recall gates, frozen-twin comparisons,
  row-capture A/Bs) on a moving target for zero graded benefit.
- The SERVING-path cost problem is already solved by the frozen twins
  (`docs_quality_classifier_exact`, `emb_pq_topk_exact`,
  `emb_ivfpq_topk_exact` — int64/frozen-codebook kernels, full oracles,
  3.6–4.5 s at 200k vectors); the trained variants exist to exercise
  the training machinery, where determinism IS the property under test.
- A gate-based contract (holdout AUC / recall floor instead of stable
  rows) remains available if training cost ever matters operationally;
  flipping it requires re-baselining the recall-gate floors in
  `tests/test_recall.py` and re-recording the rows-only driver grades —
  do both in the same round or not at all.

**Core count.** Row-stable holds at a fixed `local[N]` only, with one
exception. k-means|| seeding samples per partition, and a table read
through `session.load_table` is partitioned to `defaultParallelism`, so
an MLlib fit on that layout trains different floats at different core
counts.
- `semantic_dedup_pairs` (and `semantic_dedup`, which calls it) is
  row-stable at ANY core count: its KMeans fits on a fixed layout (4
  hash partitions on the id, each sorted by the id), so its cells
  depend only on the corpus and the seed.
- The other MLlib fits (the IVF, balanced-sample, PQ-codebook, IVF-PQ
  coarse and `ivf_build_index` KMeans, and the classifier) are
  row-stable only at a fixed `local[N]`. The same fixed layout for them
  waits on an IVF-PQ change: on that layout `tests/test_recall.py`'s
  IVF-PQ top-k recall falls below its floor, and the floor stays.

The fixed fit layout is a determinism fix, made once, not a speed trim:
it adds an exchange to the fit input rather than removing one.

This section is the stop-re-litigating marker the r13 verdict asked
for: do not re-attempt persist/repartition trims on fit inputs of
declared trained entries.
"""


def render() -> str:
    lines = [
        "# WORKLOAD — the correctness contract",
        "",
        "Auto-generated by `scripts/gen_workload_md.py` from "
        "`olap_xtrctr_spark/workload.py`.",
        "Every row is a `queries()` entry; `full` oracle = DuckDB SQL "
        "compared row/schema/value-exact, `rows-only` = engine-specific "
        "randomness or hashing (validated instead by recall tests in "
        "`tests/test_recall.py`).",
        "",
    ]
    total = full = 0
    for prefix, title in FAMILIES:
        fam = {n: s for n, s in WORKLOAD.items() if n.startswith(prefix)}
        if not fam:
            continue
        lines += [f"## {title}", "", "| query | oracle |", "|---|---|"]
        for name in fam:
            kind = "full" if fam[name].sql else "rows-only"
            total += 1
            full += kind == "full"
            lines.append(f"| {name} | {kind} |")
        lines.append("")
    other = [n for n in WORKLOAD
             if not any(n.startswith(p) for p, _ in FAMILIES)]
    assert not other, f"uncategorized workload entries: {other}"
    lines.append(f"**{total} queries, {full} with full oracles, "
                 f"{total - full} rows-only.**")
    lines += [
        "",
        "## Driver grading window",
        "",
        f"The external correctness gate grades the FIRST {_GATE_WINDOW} "
        "`queries()` entries per round; ordering is set by the explicit "
        "manifest `workload._GATE_FRONT`, not by dict rotation.",
        "",
        "- Front of the window (full-oracle entries ONLY since r12 — "
        "`build_workload()` asserts every manifest name carries SQL, so "
        "no certification slot can be burnt on a `no_oracle` row): "
        f"{', '.join(n for n in _GATE_FRONT)}.",
        "- `workload.py` keeps only the manifest; what each rotation "
        "re-graded (never-graded additions, new entries, the staleness "
        "tail) and what it deferred, with reasons, is recorded in "
        "VERDICT.md and the git history.",
        "- Entries past the window hold green driver rows from earlier "
        "rounds (WORKLOAD history in SURVEY.md §8); "
        "`scripts/check_correctness.py` runs ALL entries locally each "
        "round, so a regression there is caught even while out of the "
        "gate window.",
        "",
        "The remaining rows-only entries are approximate by construction "
        "(learned KMeans cells, MinHash/SimHash banding, LSH/IVF probing "
        "have no exact SQL equivalent); each has a value-exact frozen or "
        "md5 twin where the machinery allows one (emb_pq_topk_exact, "
        "emb_ivfpq_topk_exact, emb_lsh_topk_exact, "
        "emb_lsh_near_dup_pairs_exact, ...), and their quality contract "
        "is the recall floor asserted in `tests/test_recall.py`.",
        "",
    ]
    return "\n".join(lines) + "\n" + DETERMINISM_CONTRACT


def main() -> None:
    text = render()
    with open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "WORKLOAD.md"), "w") as f:
        f.write(text)
    print(f"WORKLOAD.md: {len(WORKLOAD)} entries")


if __name__ == "__main__":
    main()
