"""Member navigation / selection over the members metadata table.

Spark-native re-expression of the reference's pandas dataflow
(SURVEY §2.3, scanner/DGIS_SCAN_2_stable.py:716-816,
backend/olap_service.py:160-279).  Every operator is a declarative
DataFrame expression — filters push down, nothing loops per member,
and the only collects are bounded metadata (level maps).

``MemberIndex`` is the serving twin of the N8-N16 operators: the same
table held driver-local in Arrow, so a navigation request runs no
Spark job.
"""
from __future__ import annotations

import re

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from . import naming

# N1-N4: (dim, hier, level) filter, All suppression, caption sort ----------

def get_dimension_members(members: DataFrame, dimension: str, hierarchy: str,
                          level: str, use_depth: bool = False) -> DataFrame:
    """Reference get_dimension_members (scanner/DGIS_SCAN_2_stable.py:716-752).

    ``use_depth=True`` exercises the old-cube path: the level is located via
    unique-name depth inference instead of the NIVEL_NOMBRE column (N2/N6).
    """
    base = members.filter(
        (F.col("DIMENSION") == dimension) & (F.col("JERARQUIA") == hierarchy))
    if not use_depth:
        flt = base.filter(F.col("NIVEL_NOMBRE") == level)
    else:
        levels = extract_levels_from_unique_names(members, dimension, hierarchy)
        depth = next((d["level_depth"] for d in levels
                      if d["level_name"] == level), None)
        if depth is None:
            return base.limit(0).select("MIEMBRO_CAPTION", "MIEMBRO_UNIQUE_NAME")
        flt = base.filter(
            naming.depth_col(F.col("MIEMBRO_UNIQUE_NAME")) == depth)
    flt = flt.filter(F.col("MIEMBRO_CAPTION") != "All")   # N3
    return (flt.select("MIEMBRO_CAPTION", "MIEMBRO_UNIQUE_NAME")
               .orderBy("MIEMBRO_CAPTION"))               # N4


# N5: ordinal → numeric-key → caption sort fallback chain ------------------

def members_sorted(members: DataFrame, dimension: str, hierarchy: str,
                   level: str) -> DataFrame:
    """Sort chain of backend/DGIS_SCAN_2.py:773-788: MIEMBRO_ORDINAL, then
    numeric-cast MIEMBRO_KEY, then caption.  Emits a deterministic rank."""
    sel = members.filter(
        (F.col("DIMENSION") == dimension) & (F.col("JERARQUIA") == hierarchy)
        & (F.col("NIVEL_NOMBRE") == level)
        & (F.col("MIEMBRO_CAPTION") != "All"))
    sort_key = F.coalesce(
        F.col("MIEMBRO_ORDINAL").cast("long"),
        F.col("MIEMBRO_KEY").cast("long"))
    w = Window.orderBy(sort_key.asc_nulls_last(),
                       F.col("MIEMBRO_CAPTION"), F.col("MIEMBRO_UNIQUE_NAME"))
    return sel.select(
        "MIEMBRO_CAPTION", "MIEMBRO_ORDINAL",
        F.row_number().over(w).alias("rn"))


# N6/N7: level inference from unique names (old cubes) ---------------------

def extract_levels_from_unique_names(members: DataFrame, dimension: str,
                                     hierarchy: str, sample: int = 50) -> list[dict]:
    """Reference extract_levels_from_unique_names
    (scanner/DGIS_SCAN_2_stable.py:754-816): sample the 50 longest unique
    names, depth = '.&[' count, level-1 name from the head segment,
    synthetic 'Nivel N' for unnamed depths.  Returns bounded metadata."""
    cand = (
        members.filter(
            (F.col("DIMENSION") == dimension)
            & (F.col("JERARQUIA") == hierarchy)
            & (F.col("MIEMBRO_CAPTION") != "All"))
        .select("MIEMBRO_UNIQUE_NAME",
                F.length("MIEMBRO_UNIQUE_NAME").alias("len"))
        .orderBy(F.desc("len"))            # N7 top-k by string length
        .limit(sample)
    )
    rows = [r["MIEMBRO_UNIQUE_NAME"] for r in cand.collect()]
    if not rows:
        return []
    levels_found: dict[int, str] = {}
    max_depth = 0
    hier_clean = hierarchy.split(".")[-1].replace("[", "").replace("]", "")
    for unique_name in rows:
        max_depth = max(max_depth, unique_name.count(".&["))
        head = unique_name.split(".&[")[0]
        if "].[" in head:
            last_seg = head.split("].[")[-1].replace("[", "").replace("]", "")
            if last_seg != hier_clean:
                levels_found[1] = last_seg
    return [{"level_name": levels_found.get(d, f"Nivel {d}"),
             "level_depth": d} for d in range(1, max_depth + 1)]


# N8: case-insensitive substring search ------------------------------------

def search_members(members: DataFrame, term: str,
                   dimension: str | None = None) -> DataFrame:
    out = members.filter(
        F.upper(F.col("MIEMBRO_CAPTION")).contains(term.upper())
        & (F.col("MIEMBRO_CAPTION") != "All"))
    if dimension is not None:
        out = out.filter(F.col("DIMENSION") == dimension)
    return out.select("DIMENSION", "JERARQUIA", "NIVEL_NOMBRE",
                      "MIEMBRO_CAPTION", "MIEMBRO_UNIQUE_NAME")


_ACCENTS, _PLAIN = "áéíóúñü", "aeiounu"

# Light Spanish stemmer (Snowball-inspired suffix stripping) closing the
# N17 gap vs the reference's `to_tsvector('spanish', caption)` GIN index
# (database/migrations/001_initial_schema.sql:87-88): 'consultas' and
# 'consulta' must meet at the same stem.  ONE regex, usable verbatim from
# Java regex (Spark), Python re (query side) and RE2 (the DuckDB oracle —
# RE2 has no lookbehind, so the minimum-stem guard is a non-greedy
# 3+-char capture group instead).  The non-greedy prefix makes the engine
# try the SHORTEST stem first, i.e. strip the LONGEST listed suffix;
# suffixes at one split point have a fixed length, so list order between
# equal-length suffixes never matters and all three engines agree.
ES_STEM_SUFFIXES = [
    "amientos", "imientos", "amiento", "imiento", "aciones", "uciones",
    "amente", "adoras", "adores", "ancias", "encias", "idades", "logias",
    "acion", "ucion", "adora", "ancia", "antes", "encia", "ibles", "ismos",
    "istas", "logia", "mente", "ables", "able", "ador", "ante", "anza",
    "ible", "ica", "ico", "idad", "ismo", "ista", "iva", "ivas", "ivo",
    "ivos", "osa", "osas", "oso", "osos", "icas", "icos",
    "es", "s",
]
ES_STEM_PATTERN = "^([a-z0-9]{3,}?)(" + "|".join(ES_STEM_SUFFIXES) + ")$"


def stem_es(token: str) -> str:
    """Python-side stem (query terms) — same pattern the engine and the
    DuckDB oracle apply to caption tokens."""
    return re.sub(ES_STEM_PATTERN, r"\1", token)


def _caption_tokens(col: Column) -> Column:
    """lowercase + Spanish accent fold + alnum tokenization.  Lower FIRST,
    then fold: the fold table holds lowercase accents only, so the other
    order would leave 'Á'→'á' unfolded while the query side (which lowers
    before folding) produced 'a' — uppercase accented captions would never
    match."""
    return F.split(F.trim(F.translate(F.lower(col), _ACCENTS, _PLAIN)),
                   "[^a-z0-9]+")


def fulltext_search_members(members: DataFrame, query: str,
                            dimension: str | None = None,
                            stem: bool = False) -> DataFrame:
    """N17 tokenized full-text search: the reference keeps a Spanish
    `to_tsvector` GIN index over captions
    (database/migrations/001_initial_schema.sql:87-88,128-129); the
    DataFrame analogue tokenizes the caption (lowercase, accent-folded,
    alnum tokens) and requires EVERY query term to appear as a token —
    `'a & b'` to_tsquery AND semantics, order-independent, unlike the
    substring `contains` baseline (N8).  ``stem=True`` additionally
    stems both sides with the shared Spanish suffix stripper
    (ES_STEM_PATTERN), matching to_tsvector's lexeme behavior:
    'consultas' finds 'consulta', 'widgets' finds 'widget'."""
    terms = [t for t in
             re.split(r"[^a-z0-9]+",
                      query.lower().translate(str.maketrans(_ACCENTS,
                                                            _PLAIN)))
             if t]
    if stem:
        terms = [stem_es(t) for t in terms]
    if not terms:
        return members.filter(F.lit(False)).select(
            "DIMENSION", "JERARQUIA", "NIVEL_NOMBRE",
            "MIEMBRO_CAPTION", "MIEMBRO_UNIQUE_NAME")
    toks = _caption_tokens(F.col("MIEMBRO_CAPTION"))
    if stem:
        toks = F.transform(
            toks, lambda t: F.regexp_replace(t, ES_STEM_PATTERN, "$1"))
    cond = F.col("MIEMBRO_CAPTION") != "All"
    for t in terms:
        cond = cond & F.array_contains(toks, t)
    out = members.filter(cond)
    if dimension is not None:
        out = out.filter(F.col("DIMENSION") == dimension)
    return out.select("DIMENSION", "JERARQUIA", "NIVEL_NOMBRE",
                      "MIEMBRO_CAPTION", "MIEMBRO_UNIQUE_NAME")


# N9/N10: apartado / variable convention -----------------------------------

def get_apartados(members: DataFrame) -> DataFrame:
    """Hierarchy name contains APARTADO → level 'Apartado', with the
    reference's ampersand-count==1 fallback (backend/olap_service.py:160-183)."""
    in_hier = members.filter(
        F.upper(F.col("JERARQUIA")).contains("APARTADO")
        & (F.col("MIEMBRO_CAPTION") != "All"))
    by_level = in_hier.filter(F.col("NIVEL_NOMBRE") == "Apartado")
    fallback = in_hier.filter(
        naming.depth_col(F.col("MIEMBRO_UNIQUE_NAME")) == 1)
    # static choice mirrors the reference's if/elif: level column first
    out = by_level if "NIVEL_NOMBRE" in members.columns else fallback
    return out.select("MIEMBRO_CAPTION", "MIEMBRO_UNIQUE_NAME",
                      "CHILDREN_CARDINALITY")


def get_variables(members: DataFrame) -> DataFrame:
    """Level 'Variable' or ampersand-count >= 2 (backend/olap_service.py:222-232)."""
    return (members.filter(
                F.upper(F.col("JERARQUIA")).contains("APARTADO")
                & (F.col("NIVEL_NOMBRE") == "Variable"))
            .select("MIEMBRO_CAPTION", "MIEMBRO_UNIQUE_NAME",
                    "PARENT_UNIQUE_NAME"))


# N11/N12: parent→children, one set-based pass ------------------------------

def children_of(members: DataFrame, parent_unique_names: list[str],
                prefix_fallback: bool = False) -> DataFrame:
    """Children of selected parents.  Exact PARENT_UNIQUE_NAME match first;
    prefix (startswith) fallback for old cubes without the column
    (scanner/DGIS_SCAN_2_stable.py:1041-1049).  Multi-parent selection is a
    single isin/OR pass, not a per-parent loop (N12)."""
    if not prefix_fallback:
        cond = F.col("PARENT_UNIQUE_NAME").isin(parent_unique_names)
    else:
        conds = [
            F.col("MIEMBRO_UNIQUE_NAME").startswith(p)
            & (F.col("MIEMBRO_UNIQUE_NAME") != p)
            for p in parent_unique_names
        ]
        cond = conds[0]
        for c in conds[1:]:
            cond = cond | c
    return (members.filter(cond & (F.col("MIEMBRO_CAPTION") != "All"))
            .select("MIEMBRO_CAPTION", "MIEMBRO_UNIQUE_NAME",
                    "PARENT_UNIQUE_NAME"))


# N15/N16: pagination -------------------------------------------------------

def paginate_members(members: DataFrame, dimension: str, hierarchy: str,
                     level: str, limit: int = 1000, offset: int = 0) -> DataFrame:
    """LIMIT/OFFSET over caption-ordered members with a stable rank column
    (workers/api/src/routes/members.ts:17-117)."""
    sel = members.filter(
        (F.col("DIMENSION") == dimension) & (F.col("JERARQUIA") == hierarchy)
        & (F.col("NIVEL_NOMBRE") == level) & (F.col("MIEMBRO_CAPTION") != "All"))
    w = Window.orderBy("MIEMBRO_CAPTION", "MIEMBRO_UNIQUE_NAME")
    return (sel.withColumn("rn", F.row_number().over(w))
               .filter((F.col("rn") > offset) & (F.col("rn") <= offset + limit))
               .select("rn", "MIEMBRO_CAPTION", "MIEMBRO_UNIQUE_NAME"))


# N18: cardinality estimation ----------------------------------------------

def level_cardinalities(members: DataFrame) -> DataFrame:
    """Member count per (dimension, hierarchy, level) — the inputs to the
    reference's product-estimate guard (scanner/DGIS_SCAN_2_stable.py:866-901)."""
    return (members.filter(F.col("MIEMBRO_CAPTION") != "All")
            .groupBy("DIMENSION", "JERARQUIA", "NIVEL_NOMBRE")
            .agg(F.count(F.lit(1)).alias("n_members")))


def estimate_query_cardinality(members: DataFrame,
                               row_levels: list[tuple[str, str, str]]) -> int:
    counts = level_cardinalities(members)
    est = 1
    for dim, hier, level in row_levels:
        row = counts.filter(
            (F.col("DIMENSION") == dim) & (F.col("JERARQUIA") == hier)
            & (F.col("NIVEL_NOMBRE") == level)).collect()
        est *= row[0]["n_members"] if row else 1
    return est


# Driver-local index: N8-N16 without a Spark job ---------------------------

INDEX_KEY = ("DIMENSION", "JERARQUIA", "NIVEL_NOMBRE", "MIEMBRO_CAPTION",
             "MIEMBRO_UNIQUE_NAME")
INDEX_COLUMNS = INDEX_KEY + ("PARENT_UNIQUE_NAME", "CHILDREN_CARDINALITY")
_LEVEL = INDEX_KEY[:3]


def _pylist(col: pa.ChunkedArray) -> list:
    """Python values of ``col``.  Strings go through numpy: to_pylist
    builds an Arrow scalar per value, about 30x slower."""
    if pa.types.is_string(col.type):
        return col.to_numpy().tolist()
    return col.to_pylist()


def _rows(table: pa.Table, columns: list[str]) -> list[dict]:
    vals = [_pylist(table[c]) for c in columns]
    return [dict(zip(columns, v)) for v in zip(*vals)]


class MemberIndex:
    """The members table as one Arrow table sorted by ``INDEX_KEY``,
    with each level's row range — the reference's pandas navigation
    over its cached members table (PAPER.md §0 item 2).  A page of
    ``paginate_members`` is a slice and its total a subtraction;
    ``search_members``, ``get_apartados`` and ``children_of`` keep
    their filters and answer in key order, the reference's
    ``ORDER BY caption``.  Rows whose caption is NULL or 'All' are
    dropped, as ``!= 'All'`` drops them on every DataFrame path."""

    def __init__(self, table: pa.Table):
        table = table.select(list(INDEX_COLUMNS))
        table = table.filter(pc.not_equal(table["MIEMBRO_CAPTION"], "All"))
        order = pc.sort_indices(
            table, sort_keys=[(c, "ascending") for c in INDEX_KEY],
            null_placement="at_start")      # Spark's ascending order
        self.table = table.take(order).combine_chunks()
        # Python's str.upper folds as Java's upper() does ('ß' → 'SS',
        # 'ﬁ' → 'FI'); pc.utf8_upper gives 'ẞ' and leaves 'ﬁ'
        self._upper = pa.array(
            [c.upper() for c in _pylist(self.table["MIEMBRO_CAPTION"])],
            pa.string())
        n = self.table.num_rows
        starts = [0] if n else []
        if n > 1:
            # a level starts where any level column differs from the row
            # before it
            change = None
            for c in _LEVEL:
                col = self.table[c]
                ne = pc.fill_null(
                    pc.not_equal(col.slice(1), col.slice(0, n - 1)), True)
                change = ne if change is None else pc.or_(change, ne)
            starts += (pc.indices_nonzero(change).to_numpy() + 1).tolist()
        keys = zip(*(_pylist(self.table[c].take(starts)) for c in _LEVEL))
        self.levels = {k: (a, b) for k, a, b in
                       zip(keys, starts, starts[1:] + [n])}

    @classmethod
    def read(cls, path: str) -> "MemberIndex":
        """Index of a members parquet spill, read without Spark."""
        import pyarrow.parquet as pq
        return cls(pq.read_table(path, columns=list(INDEX_COLUMNS)))

    def page(self, dimension: str, hierarchy: str, level: str,
             limit: int, offset: int) -> tuple[list[dict], int]:
        """``paginate_members`` rows (``offset < rn <= offset + limit``)
        and the level's member count."""
        start, stop = self.levels.get((dimension, hierarchy, level), (0, 0))
        total = stop - start
        lo, hi = max(offset, 0), min(offset + limit, total)
        if hi <= lo:
            return [], total
        part = self.table.slice(start + lo, hi - lo)
        return [{"rn": rn, "MIEMBRO_CAPTION": cap, "MIEMBRO_UNIQUE_NAME": name}
                for rn, cap, name in zip(
                    range(lo + 1, hi + 1),
                    _pylist(part["MIEMBRO_CAPTION"]),
                    _pylist(part["MIEMBRO_UNIQUE_NAME"]))], total

    def search(self, term: str, dimension: str | None = None,
               limit: int = 1000) -> list[dict]:
        """``search_members``: the first ``limit`` hits in key order."""
        hit = pc.match_substring(self._upper, term.upper())
        if dimension is not None:
            hit = pc.and_(hit, pc.equal(self.table["DIMENSION"], dimension))
        rows = pc.indices_nonzero(hit)[:limit]
        return _rows(self.table.take(rows), list(INDEX_KEY))

    def apartados(self) -> list[dict]:
        """``get_apartados`` by the level column, in key order."""
        out: list[dict] = []
        for (_dim, hier, level), (a, b) in self.levels.items():
            if level == "Apartado" and "APARTADO" in (hier or "").upper():
                out += _rows(self.table.slice(a, b - a),
                             ["MIEMBRO_CAPTION", "MIEMBRO_UNIQUE_NAME",
                              "CHILDREN_CARDINALITY"])
        return out

    def children(self, parent_unique_names: list[str]) -> list[dict]:
        """``children_of`` by exact parent, in key order."""
        hit = pc.is_in(self.table["PARENT_UNIQUE_NAME"],
                       value_set=pa.array(parent_unique_names, pa.string()))
        return _rows(self.table.filter(hit),
                     ["MIEMBRO_CAPTION", "MIEMBRO_UNIQUE_NAME",
                      "PARENT_UNIQUE_NAME"])
