"""Structured query request → Spark DataFrame plan.

This is the engine-side replacement for the reference's MDX string
assembly + SSAS execution (SURVEY.md §2.4/§2.5).  The request shape
mirrors the reference's pydantic ``QueryRequest``
(backend/api_server.py:83-91): catalog, measures[], variables[],
rows[], filters[], slicers.

Lowering (SURVEY §2.5):

    SELECT lvl_1..lvl_n, AGG(m_1)..AGG(m_k)
    FROM fact JOIN dim_views ON keys
    WHERE member filters AND slicers
    GROUP BY lvl_1..lvl_n

* NON EMPTY (Q12) = the natural inner-join groupBy; plus a post-agg
  drop of rows whose measure cells are all NULL.
* Empty-preserving mode = crossjoin of level member sets left-joined
  to the aggregate (guarded by the cardinality estimator, N18).
* CROSSJOIN of row sets (Q8) = multi-key groupBy.
* Variables (Q17) take the COLUMNS role → ``groupBy().pivot()`` with
  an explicit value list (one pass, no extra distinct job).

Scale notes: every member/filter selection compiles to key-column
predicates (parquet-pushdown-able); dimension views join once per
physical view even when several logical dimensions ride it; nothing
collects to the driver except bounded metadata (pivot captions).
"""
from __future__ import annotations

import re
from dataclasses import dataclass, field
from functools import reduce
from typing import Optional

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import Window as SqlWindow
from pyspark.sql import functions as F

from . import naming
from .cube import CubeDef, CubeRegistry, Dimension, Hierarchy, Level, Measure

# ---- fact ⋈ dim-view join-side policy (OPTIMIZATION_r13/r14.md) ----------
# Catalyst's estimate for the slim fact projection can undercut the
# dim-view chain's (path tables carry no CBO stats, so join views
# estimate as row-count PRODUCTS), and the static planner then
# broadcasts the FACT.  So the view side is broadcast-hinted, but only
# while its LEAF scan footprint (file-size based, real, and growing
# with the fact for bridge views) is within the session's
# autoBroadcastJoinThreshold.  The view's own estimate can't serve as
# the gate: orders_wide "estimates" 2.7 EB at sf0.1.  Over the gate the
# join is pinned to sort-merge, so neither side is broadcast on an
# inflated estimate, and AQE still coalesces and skew-splits at runtime.

# leaf-scan bytes per (applicationId, cube, view, sf_dir): the walk
# costs a handful of py4j round-trips; the gate is read live per query
_LEAF_SCAN_BYTES: dict[tuple, Optional[int]] = {}


def _leaf_scan_bytes(view: DataFrame) -> int:
    """Sum of Catalyst size estimates over the view plan's LEAF
    relations — for file sources this is the (compression-adjusted)
    scan footprint, the honest size signal the join-product estimate
    destroys (see policy comment)."""
    leaves = view._jdf.queryExecution().optimizedPlan().collectLeaves()
    return sum(int(leaves.apply(i).stats().sizeInBytes())
               for i in range(leaves.size()))


def _hint_gate_bytes(spark) -> int:
    raw = spark.conf.get("spark.sql.autoBroadcastJoinThreshold",
                         "10485760").strip()
    # plain (signed) bytes skip the JVM parser's py4j trips; the parser
    # also rejects the sign, so -1 (broadcast disabled) must stop here
    if re.fullmatch(r"[+-]?\d+", raw):
        return int(raw)
    try:
        return int(spark._jvm.org.apache.spark.network.util.JavaUtils
                   .byteStringAsBytes(raw))
    except Exception:
        return 10 * 1024 * 1024


def _dim_join_side(view: DataFrame, key: tuple, gate: int) -> DataFrame:
    if gate <= 0:
        return view.hint("merge")
    if key not in _LEAF_SCAN_BYTES:
        try:
            _LEAF_SCAN_BYTES[key] = _leaf_scan_bytes(view)
        except Exception:   # leaves the walk can't size: hint ungated
            _LEAF_SCAN_BYTES[key] = None
    size = _LEAF_SCAN_BYTES[key]
    if size is None or size <= gate:
        return F.broadcast(view)
    return view.hint("merge")


# Reference guard constants (BASELINE.md)
CARDINALITY_WARN_THRESHOLD = 100_000
MAX_ROW_DIMS = 3


class QueryValidationError(ValueError):
    pass


@dataclass
class AxisItem:
    """One row-axis entry: a level set (Q4/Q5) or member-literal set
    (Q3).  ``members`` together with ``level``/``depth`` is the
    member-tree navigation the reference's scanner walks in pandas
    (scanner/DGIS_SCAN_2_stable.py:1041-1049 parent/child chains),
    expressed in-query:

    * ``members`` + ``level`` (``ancestor=False``) = MDX
      ``DESCENDANTS(member, level)``: the set of members AT ``level``
      under the named member(s) — lowered to a grouping at ``level``
      constrained by the members' key-path prefixes (parquet-
      pushdown-able, like every member filter).
    * ``members`` + ``level`` + ``ancestor=True`` = MDX
      ``ANCESTOR(member, level)``: the single member at the SHALLOWER
      ``level`` on the member's path — its cell value is the full
      rollup of that ancestor (path truncated to the level's depth).
    """
    dimension: str
    hierarchy: str
    level: Optional[str] = None
    depth: Optional[int] = None          # 1-based (Q5: Levels(n).MEMBERS)
    members: Optional[list[str]] = None  # member unique names (Q3)
    properties: bool = False             # DIMENSION PROPERTIES (Q13)
    # Named ancestor levels from a DIMENSION PROPERTIES <list> clause
    # (reference scanner/DGIS_SCAN_2_stable.py:1282-1298 emits
    # [Dim].[Hier].[Level] per superior level); None → all ancestors when
    # `properties` is set, no ancestors otherwise.
    property_list: Optional[list[str]] = None
    ancestor: bool = False               # ANCESTOR(member, level)


@dataclass
class FilterSpec:
    """Member filter crossjoined into rows by the reference (Q10)."""
    dimension: str
    hierarchy: str
    members: list[str]


@dataclass
class CalcMeasure:
    """WITH MEMBER [Measures].[name] AS <expr> — a calculated measure:
    post-aggregation arithmetic over base measures.  ``expr`` is the
    MDX arithmetic subset ([Measures].[X] refs, numeric literals,
    + - * / and parentheses); division yields NULL on a zero
    denominator (both engines — the SSAS-like safe-divide)."""
    name: str
    expr: str
    out_name: str = ""

    @property
    def alias(self) -> str:
        return self.out_name or self.name.lower().replace(" ", "_")


@dataclass
class TopCountSpec:
    """TOPCOUNT(<set>, n, [Measures].[X]): keep the n axis rows with
    the largest values of the named (base or calculated) measure; ties
    break on the group columns so the selection is deterministic.
    ``bottom=True`` is BOTTOMCOUNT (smallest values first)."""
    n: int
    measure: str
    bottom: bool = False


@dataclass
class HeadTailSpec:
    """HEAD(<set>, n) / TAIL(<set>, n): keep the first / last n axis
    rows in set order.  Set order is the ORDER(...) key when present,
    else the canonical group-column ascending order (MDX's natural
    member ordering for level sets) — deterministic either way."""
    n: int
    tail: bool = False


@dataclass
class TopPercentSpec:
    """TOPPERCENT(<set>, p, [Measures].[X]) — keep the largest-valued
    axis rows whose CUMULATIVE measure total first reaches p percent
    of the set's total (the SSAS contract: the smallest top prefix
    whose running sum >= p% — a row enters while the sum of everything
    ABOVE it is still short of the threshold).  ``absolute=True`` is
    TOPSUM (threshold in measure units instead of percent);
    ``bottom=True`` flips to BOTTOMPERCENT/BOTTOMSUM (smallest values
    accumulate first).  Ties break on the group columns; NULL cells
    sort last and contribute 0.  Thresholds are INTEGER so the
    cumulative comparison stays in exact DECIMAL arithmetic on both
    engines (cum*100 < total*p — no float division anywhere).
    Cost: one window pass over the aggregated axis rows, the same
    axis-bounded class as TOPCOUNT."""
    threshold: int
    measure: str
    bottom: bool = False
    absolute: bool = False


# ---------------------------------------------------------------------------
# Measure-expression parser (calculated measures, FILTER conditions).
# A tiny recursive-descent parser — NEVER eval() — over:
#     cmp   := add (('>'|'>='|'<'|'<='|'='|'<>') add)?
#     add   := mul (('+'|'-') mul)*
#     mul   := unary (('*'|'/') unary)*
#     unary := '-' unary | '(' cmp ')' | NUMBER | '[Measures].[name]'
# ---------------------------------------------------------------------------

_EXPR_TOKEN = re.compile(
    r"\s*(\[Measures\]\s*\.\s*\[[^\]]+\]"
    r"|\[[^\]]+\]\s*\.\s*\[[^\]]+\](?:\s*\.\s*(?i:CURRENTMEMBER))?"
    r"\s*\.\s*(?i:PREVMEMBER|NEXTMEMBER)"
    # full member path with key ref(s) — the set-literal element form
    # ([Dim].[Hier].[Level].&[k1](.&[k2]...)); must precede the
    # 2-segment alternative or it would match only the path's prefix
    r"|\[[^\]]+\](?:\s*\.\s*\[[^\]]+\]){1,3}"
    r"(?:\s*\.\s*&\s*\[[^\]]+\])+"
    r"|\[[^\]]+\]\s*\.\s*\[[^\]]+\](?:\s*\.\s*(?i:CURRENTMEMBER))?"
    r"|[A-Za-z_]+"
    r"|\d+\.\d+|\d+|>=|<=|<>|[-+*/(),><={}])")
_MEASURE_REF = re.compile(r"\[Measures\]\s*\.\s*\[([^\]]+)\]")
_PREV_REF = re.compile(
    r"\[([^\]]+)\]\s*\.\s*\[([^\]]+)\](?:\s*\.\s*CURRENTMEMBER)?"
    r"\s*\.\s*(PREVMEMBER|NEXTMEMBER)", re.IGNORECASE)
_CURMEM_REF = re.compile(
    r"\[([^\]]+)\]\s*\.\s*\[([^\]]+)\]\s*\.\s*CURRENTMEMBER",
    re.IGNORECASE)


@dataclass(eq=False)
class LagRef:
    """A ``([Measures].[X], [Dim].[Hier].PrevMember)`` tuple inside a
    calculated-measure expression — SSAS time intelligence (the
    PARALLELPERIOD / period-over-period pattern): the referenced
    expression evaluated at the PREVIOUS member of the named row-axis
    hierarchy.  The engine realizes it as one ``lag()`` window over the
    materialized axis rows — partitioned by every OTHER row hierarchy,
    ordered by the named hierarchy's level columns — so the cost is
    bounded by axis cardinality, never fact rows.  The first member of
    each partition reports NULL (no previous period), matching SSAS's
    empty cell.  Note the lag runs over the rows the axis actually
    materialized (post NON-EMPTY): a period with no fact rows is
    skipped, exactly as the SQL ``LAG() OVER (ORDER BY period)`` on an
    aggregated table skips it.  ``forward=True`` is the NextMember
    tuple (lead(): the last member of each partition reports NULL);
    ``n`` generalizes to the PARALLELPERIOD distance — n=12 at the
    month grain is month-vs-same-month-last-year."""
    dimension: str
    hierarchy: str
    col: Column
    forward: bool = False
    n: int = 1


@dataclass(eq=False)
class LastPeriodsRef:
    """``SUM(LASTPERIODS(n, [Dim].[Hier][.CurrentMember]), <expr>)`` —
    the SSAS trailing-window aggregate: the expression summed over the
    n members ending at the current member, in level-ordinal order,
    CROSSING parent boundaries (Jan's 3-period window reaches back
    into the previous year's Nov-Dec — the SSAS LastPeriods contract,
    unlike YTD which resets at the parent).  One rows-frame window
    over the materialized axis; DECIMAL(18,4) accumulation keeps the
    running sums engine-exact."""
    dimension: str
    hierarchy: str
    n: int
    col: Column


@dataclass(eq=False)
class SetAggRef:
    """``SUM({<member>, ...}, [Measures].[X])`` / ``AGGREGATE(...)``
    inside a calculated-measure expression — a measure aggregated over
    an explicit member SET (usually a WITH SET name the MDX layer
    expanded): the SSAS aggregate-a-named-set-into-a-member pattern.

    The engine realizes it as ONE CONDITIONAL AGGREGATE in the same
    groupBy that computes the base measures — SUM(CASE WHEN <member
    predicate> THEN src END) — so the fact table is still scanned
    exactly once and the set restriction composes with every axis,
    filter and slicer (each axis row shows the aggregate over the set
    members within that row's coordinate).  ``forced_sum`` is the
    SUM(...) spelling: valid only for additive base measures
    (SUM/COUNT aggregators) where summing per-member values equals
    aggregating the combined slice; AGGREGATE(...) uses the measure's
    OWN aggregator and therefore composes with MIN/MAX/AVG too (the
    SSAS Aggregate contract)."""
    members: tuple
    measure: str
    forced_sum: bool = True


@dataclass(eq=False)
class SetStatRef:
    """``MEDIAN({<member>, ...}, [Measures].[X])`` / ``MIN(...)`` /
    ``MAX(...)`` — an order statistic over the PER-MEMBER values of a
    measure (SSAS Median/Min/Max over a set): each member's value is
    the measure evaluated on that member's slice alone, and the
    statistic ranges over those values, NOT over the combined rows
    (``MIN({A,B}, [Sum X])`` is min(sum_A, sum_B), which one
    OR-predicate aggregate cannot express).

    The engine still scans the fact table ONCE: every member becomes
    its own conditional aggregate column in the main groupBy, and the
    statistic is a post-aggregation array expression over those
    columns (sort, drop empty cells, pick min/max/middles).  Set sizes
    are axis-literal-sized, so the per-member column fanout is
    bounded by the query text, never by the data.  Empty cells drop
    out per SSAS (MEDIAN over {A,B_empty} = value of A); an all-empty
    set yields NULL.  The median of an even count is the IEEE mean of
    the two middle per-member doubles — both engines compute the same
    ``(a+b)/2`` on the same bits."""
    members: tuple
    measure: str
    stat: str          # "MEDIAN" | "MIN" | "MAX"


@dataclass(eq=False)
class RankRef:
    """``RANK([Dim].[Hier].CurrentMember, <expr>)`` inside a
    calculated-measure expression — the SSAS ranking idiom with the
    ROW AXIS as the implicit set: each axis row's 1-based position
    among its peers when ordered by the expression DESCENDING (the
    "rank nations by sales next to the sales column" report shape).
    A deliberate grammar subset (the engine contract: parse the
    subset, error on the rest): the full SSAS form names an explicit
    set, but the axis-set case is the one the reference's report
    surface produces.

    Realized as one ``rank()`` window over the materialized axis rows
    — partitioned by every OTHER row hierarchy, ordered by the
    expression only (no tiebreak columns, so equal values SHARE a
    rank with gaps, the SQL RANK contract); empty cells order last.
    Cost is axis-sized, never fact-sized."""
    dimension: str
    hierarchy: str
    col: Column


@dataclass(eq=False)
class YtdRef:
    """``SUM(YTD([Dim].[Hier][.CurrentMember]), [Measures].[X])`` — the
    SSAS year-to-date running total: the referenced expression
    accumulated from the start of the current PARENT member (the
    axis's ancestor levels partition the window — months accumulate
    within their year) through the current member in level-ordinal
    order.  Realized as one running-sum window over the materialized
    axis rows; the accumulation runs in DECIMAL(18,4) (the engine's
    double-freeze discipline) so it is order-independent and
    bit-reproducible by the SQL oracle."""
    dimension: str
    hierarchy: str
    col: Column


class MeasureExprError(QueryValidationError):
    pass


def _tokenize_measure_expr(expr: str) -> list[str]:
    out, pos = [], 0
    while pos < len(expr):
        m = _EXPR_TOKEN.match(expr, pos)
        if not m:
            if expr[pos:].strip():
                raise MeasureExprError(
                    f"bad token at {expr[pos:pos+20]!r} in {expr!r}")
            break
        out.append(m.group(1))
        pos = m.end()
    return out


def parse_measure_expr(expr: str):
    """Compile a measure arithmetic/comparison expression into
    ``(builder, referenced_names)`` where ``builder(resolve)`` returns
    a Column given ``resolve(measure_name) -> Column``."""
    toks = _tokenize_measure_expr(expr)
    refs: list[str] = []
    pos = 0

    def peek():
        return toks[pos] if pos < len(toks) else None

    def take():
        nonlocal pos
        t = peek()
        pos += 1
        return t

    def unary():
        t = peek()
        if t == "-":
            take()
            f = unary()
            return lambda r: -f(r)
        if t == "(":
            take()
            f = cmp_()
            nxt = take()
            if nxt == ",":
                # tuple form: (expr, [Dim].[Hier].PrevMember)
                pm = take()
                if (pm or "").upper() == "PARALLELPERIOD":
                    # (expr, PARALLELPERIOD([Dim].[Hier], n)) — the
                    # generalized lag distance (n=12 at month grain is
                    # same-month-last-year)
                    if take() != "(":
                        raise MeasureExprError(
                            f"PARALLELPERIOD needs ([Dim].[Hier], n): "
                            f"{expr!r}")
                    ht = take()
                    hm2 = re.fullmatch(
                        r"\[([^\]]+)\]\s*\.\s*\[([^\]]+)\]"
                        r"(?:\s*\.\s*CURRENTMEMBER)?", ht or "",
                        re.IGNORECASE)
                    nt = (take() == "," and take()) or None
                    if not hm2 or not (nt or "").isdigit() \
                            or int(nt) < 1 or take() != ")" \
                            or take() != ")":
                        raise MeasureExprError(
                            f"PARALLELPERIOD needs ([Dim].[Hier], "
                            f"n >= 1): {expr!r}")
                    dim, hier = hm2.group(1).strip(), hm2.group(2).strip()
                    refs.append(("__prevmember__", dim, hier))
                    return (lambda inner, d=dim, h=hier, np=int(nt):
                            lambda r: r(LagRef(d, h, inner(r),
                                               False, np)))(f)
                mm = _PREV_REF.fullmatch(pm or "")
                if not mm:
                    raise MeasureExprError(
                        f"tuple second element must be "
                        f"[Dim].[Hier].PrevMember/NextMember or "
                        f"PARALLELPERIOD(...), got {pm!r} in {expr!r}")
                if take() != ")":
                    raise MeasureExprError(f"unbalanced parens in {expr!r}")
                dim, hier = mm.group(1).strip(), mm.group(2).strip()
                fwd = mm.group(3).upper() == "NEXTMEMBER"
                # non-string ref marker: consumers that resolve measure
                # NAMES must skip it; the engine uses it to know which
                # axis orders the lag window (and to group by that
                # axis's ordinal columns for chronological order)
                refs.append(("__prevmember__", dim, hier))
                return (lambda inner, d=dim, h=hier, fw=fwd:
                        lambda r: r(LagRef(d, h, inner(r), fw)))(f)
            if nxt != ")":
                raise MeasureExprError(f"unbalanced parens in {expr!r}")
            return f
        if t is None:
            raise MeasureExprError(f"truncated expression: {expr!r}")
        if t.upper() == "RANK":
            # RANK([Dim].[Hier].CurrentMember, <expr>) — rank among
            # the axis rows of that hierarchy by <expr> DESC
            take()
            if take() != "(":
                raise MeasureExprError(
                    f"expected RANK([Dim].[Hier].CurrentMember, "
                    f"<expr>): {expr!r}")
            cm = _CURMEM_REF.fullmatch(take() or "")
            if not cm or take() != ",":
                raise MeasureExprError(
                    f"RANK takes ([Dim].[Hier].CurrentMember, "
                    f"<expr>): {expr!r}")
            f = cmp_()
            if take() != ")":
                raise MeasureExprError(f"unbalanced parens in {expr!r}")
            dim, hier = cm.group(1).strip(), cm.group(2).strip()
            refs.append(("__rank__", dim, hier))
            return (lambda inner, d=dim, h=hier:
                    lambda r: r(RankRef(d, h, inner(r))))(f)
        if t.upper() in ("SUM", "AGGREGATE", "MEDIAN", "MIN", "MAX"):
            # SUM(YTD([Dim].[Hier][.CurrentMember]), <expr>)
            # SUM(LASTPERIODS(n, [Dim].[Hier][.CurrentMember]), <expr>)
            # SUM({<member>, ...}, [Measures].[X])        (set literal)
            # AGGREGATE({<member>, ...}, [Measures].[X])
            # MEDIAN/MIN/MAX({<member>, ...}, [Measures].[X])
            kw = t.upper()
            take()
            if take() != "(":
                raise MeasureExprError(
                    f"expected {kw}(YTD(...)|LASTPERIODS(...)|"
                    f"{{set}}, ...): {expr!r}")
            if peek() == "{":
                # set-literal form: members are full key paths, the
                # shape WITH SET expansion emits
                take()
                members: list[str] = []
                while True:
                    mt = take()
                    if mt is None:
                        raise MeasureExprError(
                            f"unterminated set literal in {expr!r}")
                    if not re.fullmatch(
                            r"\[[^\]]+\](?:\s*\.\s*\[[^\]]+\])+"
                            r"(?:\s*\.\s*&\s*\[[^\]]+\])+", mt):
                        raise MeasureExprError(
                            f"set elements must be "
                            f"[Dim].[Hier]...&[key] members, got "
                            f"{mt!r} in {expr!r}")
                    members.append(mt)
                    sep = take()
                    if sep == "}":
                        break
                    if sep != ",":
                        raise MeasureExprError(
                            f"bad set literal separator {sep!r} in "
                            f"{expr!r}")
                if take() != ",":
                    raise MeasureExprError(
                        f"expected {kw}({{set}}, [Measures].[X]): "
                        f"{expr!r}")
                mt = take()
                mm = _MEASURE_REF.fullmatch(mt or "")
                if not mm or take() != ")":
                    raise MeasureExprError(
                        f"{kw} over a set aggregates ONE base "
                        f"measure ref: {expr!r}")
                mem_t, meas = tuple(members), mm.group(1)
                if kw in ("MEDIAN", "MIN", "MAX"):
                    refs.append(("__setstat__", mem_t, meas, kw))
                    return (lambda ms=mem_t, mn=meas, st=kw:
                            lambda r: r(SetStatRef(ms, mn, st)))()
                forced = kw == "SUM"
                refs.append(("__setagg__", mem_t, meas, forced))
                return (lambda ms=mem_t, mn=meas, fs=forced:
                        lambda r: r(SetAggRef(ms, mn, fs)))()
            if kw in ("AGGREGATE", "MEDIAN", "MIN", "MAX"):
                raise MeasureExprError(
                    f"{kw} takes ({{set}}, [Measures].[X]): "
                    f"{expr!r}")
            fn = (take() or "").upper()
            if fn not in ("YTD", "LASTPERIODS") or take() != "(":
                raise MeasureExprError(
                    f"expected SUM(YTD(...)|LASTPERIODS(...), ...): "
                    f"{expr!r}")
            nper = None
            if fn == "LASTPERIODS":
                nt = take()
                if not (nt or "").isdigit() or take() != ",":
                    raise MeasureExprError(
                        f"LASTPERIODS takes (n, [Dim].[Hier]): {expr!r}")
                nper = int(nt)
                if nper < 1:
                    raise MeasureExprError(
                        f"LASTPERIODS n must be >= 1: {expr!r}")
            ht = take()
            hm = re.fullmatch(
                r"\[([^\]]+)\]\s*\.\s*\[([^\]]+)\]"
                r"(?:\s*\.\s*CURRENTMEMBER)?", ht or "", re.IGNORECASE)
            if not hm:
                raise MeasureExprError(
                    f"{fn} takes [Dim].[Hier], got {ht!r} in {expr!r}")
            if take() != ")" or take() != ",":
                raise MeasureExprError(
                    f"expected SUM({fn}(...), <expr>): {expr!r}")
            inner = add()
            if take() != ")":
                raise MeasureExprError(f"unbalanced parens in {expr!r}")
            dim, hier = hm.group(1).strip(), hm.group(2).strip()
            if fn == "YTD":
                refs.append(("__ytd__", dim, hier))
                return (lambda i, d=dim, h=hier:
                        lambda r: r(YtdRef(d, h, i(r))))(inner)
            refs.append(("__lastperiods__", dim, hier))
            return (lambda i, d=dim, h=hier, np=nper:
                    lambda r: r(LastPeriodsRef(d, h, np, i(r))))(inner)
        take()
        m = _MEASURE_REF.fullmatch(t)
        if m:
            name = m.group(1)
            refs.append(name)
            return lambda r, name=name: r(name)
        try:
            v = float(t)
        except ValueError:
            raise MeasureExprError(f"unexpected token {t!r} in {expr!r}")
        return lambda r, v=v: F.lit(v)

    def mul():
        f = unary()
        while peek() in ("*", "/"):
            op = take()
            g = unary()
            if op == "*":
                f = (lambda a, b: lambda r: a(r) * b(r))(f, g)
            else:
                # safe divide: NULL on zero denominator (mirrors the
                # oracle's x / NULLIF(y, 0))
                f = (lambda a, b: lambda r: F.when(
                    b(r) == 0, F.lit(None)).otherwise(a(r) / b(r)))(f, g)
        return f

    def add():
        f = mul()
        while peek() in ("+", "-"):
            op = take()
            g = mul()
            if op == "+":
                f = (lambda a, b: lambda r: a(r) + b(r))(f, g)
            else:
                f = (lambda a, b: lambda r: a(r) - b(r))(f, g)
        return f

    def cmp_():
        f = add()
        t = peek()
        if t in (">", ">=", "<", "<=", "=", "<>"):
            take()
            g = add()
            ops = {">": lambda a, b: a > b, ">=": lambda a, b: a >= b,
                   "<": lambda a, b: a < b, "<=": lambda a, b: a <= b,
                   "=": lambda a, b: a == b, "<>": lambda a, b: a != b}
            f = (lambda a, b, o: lambda r: o(a(r), b(r)))(f, g, ops[t])
        return f

    builder = cmp_()
    if pos != len(toks):
        raise MeasureExprError(f"trailing tokens in {expr!r}")
    return builder, refs


@dataclass
class QueryRequest:
    catalog: str
    cube: Optional[str] = None
    measures: list[str] = field(default_factory=list)   # names or [Measures].[X]
    variables: list[str] = field(default_factory=list)  # member unique names
    rows: list[AxisItem] = field(default_factory=list)
    filters: list[FilterSpec] = field(default_factory=list)
    slicers: list[str] = field(default_factory=list)    # WHERE tuple (Q11)
    non_empty: bool = True
    all_measures: bool = False                          # [Measures].AllMembers
    # MDX extensions beyond the reference's emitted subset:
    calculated: list[CalcMeasure] = field(default_factory=list)
    having: list[str] = field(default_factory=list)     # FILTER(set, cond)
    topcount: Optional[TopCountSpec] = None             # TOPCOUNT(set, n, m)
    order_by: Optional[tuple[str, bool]] = None         # ORDER(set, m, DESC)
    head_tail: Optional[HeadTailSpec] = None            # HEAD/TAIL(set, n)
    toppercent: Optional[TopPercentSpec] = None         # TOPPERCENT/TOPSUM
    drillthrough: bool = False                          # DRILLTHROUGH SELECT
    max_rows: Optional[int] = None                      # ... MAXROWS n
    return_cols: Optional[list[str]] = None             # ... RETURN c1, c2
    # FROM (SELECT <sets> ON COLUMNS FROM [cube]) — subselect space
    # restriction: each set becomes an unconditional key-path
    # predicate (VisualTotals semantics: totals AND axes restrict,
    # and unlike Q10 filters it is NOT dropped when its hierarchy is
    # on rows — restricting a rows hierarchy is the main use)
    subselects: list[FilterSpec] = field(default_factory=list)
    # CELL PROPERTIES VALUE[, FORMATTED_VALUE ...] — SSAS clients
    # (Excel, SSMS) append this to every query; the engine validates
    # the names and returns VALUE regardless (formatting is a client
    # concern here — FORMAT_STRING lives in measure metadata), so the
    # clause is accepted for wire compatibility, round-tripped by
    # build_mdx, and otherwise a no-op.
    cell_properties: list[str] = field(default_factory=list)
    # NONEMPTY(set, [Measures].[X]) — the function form (PowerBI/Excel
    # emit it): drop axis rows where THAT measure is empty, applied
    # post-aggregation/post-calc so calculated measures qualify too
    # (the NON EMPTY keyword instead tests ALL base measures).
    non_empty_measures: list[str] = field(default_factory=list)


@dataclass
class ResolvedAxis:
    dimension: Dimension
    hierarchy: Hierarchy
    level: Level
    ancestors: list[Level]           # for DIMENSION PROPERTIES
    member_constraints: Optional[list[list[tuple[Level, str]]]]  # OR of key paths


class CubeQueryEngine:
    def __init__(self, spark: SparkSession, registry: CubeRegistry, sf_dir: str):
        self.spark = spark
        self.registry = registry
        self.sf_dir = sf_dir
        self._view_cache: dict[tuple[str, str], DataFrame] = {}
        self._card_cache: dict[tuple[str, str, str, str], int] = {}
        self._card_spill_loaded: set[str] = set()

    # ---- view / fact access ------------------------------------------------

    def _view(self, cube: CubeDef, view_name: str) -> DataFrame:
        key = (cube.name, view_name)
        if key not in self._view_cache:
            self._view_cache[key] = cube.views[view_name](self.spark, self.sf_dir)
        return self._view_cache[key]

    def _join_views(self, cube: CubeDef,
                    dims: list[Dimension]) -> DataFrame:
        """fact ⋈ each physical view the dimensions ride, once per view
        even when several logical dimensions share it."""
        needed: dict[str, Dimension] = {}
        for dim in dims:
            if dim.view is not None:
                needed.setdefault(dim.view, dim)
        joined = cube.fact(self.spark, self.sf_dir)
        gate = _hint_gate_bytes(self.spark)
        for view_name, dim in needed.items():
            view = _dim_join_side(
                self._view(cube, view_name),
                (self.spark.sparkContext.applicationId,
                 cube.name, view_name, self.sf_dir), gate)
            joined = joined.join(
                view, F.col(dim.fact_key) == view[dim.view_key], "inner")
        return joined

    # ---- analysis ----------------------------------------------------------

    def _resolve_level(self, hier: Hierarchy, item: AxisItem) -> Level:
        if item.depth is not None:           # Q5 ordinal level set
            if not (1 <= item.depth <= len(hier.levels)):
                raise QueryValidationError(
                    f"depth {item.depth} out of range for hierarchy {hier.name!r}")
            return hier.level_at_depth(item.depth)
        name = item.level
        # Q7: All/UNKNOWNMEMBER repair → re-derive from the hierarchy itself
        if name is None or name in ("All", "UNKNOWNMEMBER", "(All)"):
            short = hier.name.split(".")[-1].strip("[]")
            lv = hier.level_by_name(short)
            if lv is None:
                lv = hier.levels[0] if len(hier.levels) == 1 else None
            if lv is None:
                raise QueryValidationError(
                    f"cannot infer level for hierarchy {hier.name!r}; "
                    f"specify level or depth")
            return lv
        lv = hier.level_by_name(name)
        if lv is None:
            raise QueryValidationError(
                f"unknown level {name!r} in hierarchy {hier.name!r}")
        return lv

    def _member_paths(self, cube: CubeDef, dim: Dimension, hier: Hierarchy,
                      members: list[str]) -> list[list[tuple[Level, str]]]:
        """Each unique name → [(level, key), ...] down its key path."""
        paths = []
        for m in members:
            parsed = naming.parse(m)
            if parsed.depth == 0:
                continue  # an 'All' member constrains nothing
            if parsed.depth > len(hier.levels):
                raise QueryValidationError(
                    f"member {m!r} deeper than hierarchy {hier.name!r}")
            paths.append([(hier.levels[i], k) for i, k in enumerate(parsed.keys)])
        return paths

    def _resolve_axis(self, cube: CubeDef, item: AxisItem) -> ResolvedAxis:
        dim = cube.dimension(item.dimension)
        hier = dim.hierarchy(item.hierarchy)
        constraints = None
        if item.members:
            constraints = self._member_paths(cube, dim, hier, item.members)
            if item.level is not None or item.depth is not None:
                # DESCENDANTS / ANCESTOR: an explicit target level
                # navigates the member tree instead of inferring the
                # level from the members' own depth.
                level = self._resolve_level(hier, item)
                lidx = hier.levels.index(level) + 1
                if item.ancestor:
                    if len(item.members) != 1:
                        raise QueryValidationError(
                            "ANCESTOR takes a single member")
                    shallow = [p for p in constraints if len(p) < lidx]
                    if shallow:
                        raise QueryValidationError(
                            f"ANCESTOR level {level.name!r} is below the "
                            f"member's own level in hierarchy "
                            f"{hier.name!r}")
                    # truncate each path to the ancestor's depth (the
                    # unique-name prefix IS the ancestor); dedup —
                    # siblings share ancestors
                    seen, trunc = set(), []
                    for p in constraints:
                        key = tuple(k for _, k in p[:lidx])
                        if key not in seen:
                            seen.add(key)
                            trunc.append(p[:lidx])
                    constraints = trunc
                else:
                    deeper = [p for p in constraints if len(p) > lidx]
                    if deeper:
                        raise QueryValidationError(
                            f"DESCENDANTS level {level.name!r} is above "
                            f"the named member's level in hierarchy "
                            f"{hier.name!r} (use ANCESTOR)")
            elif item.ancestor:
                raise QueryValidationError(
                    "ANCESTOR requires an explicit target level")
            else:
                level = hier.levels[max(len(p) for p in constraints) - 1]
        else:
            level = self._resolve_level(hier, item)
        idx = hier.levels.index(level)
        if item.property_list is not None:
            wanted = {p.lower() for p in item.property_list}
            ancestors = [lv for lv in hier.levels[:idx]
                         if lv.name.lower() in wanted]
            unknown = wanted - {lv.name.lower() for lv in ancestors}
            if unknown:
                raise QueryValidationError(
                    f"DIMENSION PROPERTIES names {sorted(unknown)} that are "
                    f"not ancestor levels of {level.name!r} in hierarchy "
                    f"{hier.name!r}")
        elif item.properties:
            ancestors = list(hier.levels[:idx])
        else:
            ancestors = []
        return ResolvedAxis(dim, hier, level, ancestors, constraints)

    # ---- predicate compilation --------------------------------------------

    def _typed_lit(self, df: DataFrame, col_name: str, value: str) -> Column:
        dtype = dict(df.dtypes).get(col_name, "string")
        if dtype in ("int", "bigint", "smallint", "tinyint"):
            return F.lit(int(value))
        if dtype in ("double", "float"):
            return F.lit(float(value))
        return F.lit(value)

    def _paths_predicate(self, df: DataFrame,
                         paths: list[list[tuple[Level, str]]]) -> Column:
        """OR over member key paths.  Single-level paths collapse to one
        ``isin`` (parquet-pushdown-able); multi-level paths become an OR of
        conjunctions (still pushdown-able: Parquet accepts OR-of-EQ)."""
        if all(len(p) == 1 for p in paths):
            lv = paths[0][0][0]
            vals = [self._typed_lit(df, lv.key_col, p[0][1]) for p in paths]
            return F.col(lv.key_col).isin(*vals)
        ors = []
        for path in paths:
            conj = reduce(lambda a, b: a & b, [
                F.col(lv.key_col) == self._typed_lit(df, lv.key_col, k)
                for lv, k in path
            ])
            ors.append(conj)
        return reduce(lambda a, b: a | b, ors)

    # ---- measures ---------------------------------------------------------

    def _resolve_measures(self, cube: CubeDef, req: QueryRequest) -> list[Measure]:
        if req.all_measures:           # Q2 [Measures].AllMembers
            return cube.visible_measures()
        if not req.measures:
            return [cube.measures[cube.default_measure]]
        return [cube.measure(m) for m in req.measures]

    def _resolve_measure_plan(self, cube: CubeDef, req: QueryRequest):
        """Measure resolution with calculated-measure support: returns
        (base_measures_to_aggregate, selected_output_aliases,
        calc_plan) where calc_plan is [(CalcMeasure, builder)] in
        DEPENDENCY order: a calc may reference other calcs
        (calc-over-calc, round 9) — dependencies materialize first via
        DFS topological ordering, cycles fail with the reference
        chain."""
        calc_by_name = {c.name: c for c in req.calculated}
        if req.all_measures and req.calculated:
            raise QueryValidationError(
                "calculated measures cannot combine with "
                "[Measures].AllMembers")
        if not (req.calculated or req.having or req.topcount
                or req.order_by or req.toppercent
                or req.non_empty_measures):
            bases = self._resolve_measures(cube, req)
            return bases, [m.out_name or m.name for m in bases], []

        if req.all_measures:    # Q2 AllMembers + FILTER/TOPCOUNT/ORDER
            selected = [m.name for m in cube.visible_measures()]
        else:
            selected = req.measures or (list(calc_by_name) if calc_by_name
                                        else [cube.default_measure])
        base_names: list[str] = []
        calc_plan = []
        out_aliases: list[str] = []
        # Every measure a post-aggregation clause can reference must be
        # aggregated (or, for a calc, materialized) even when it is not
        # on the columns axis: FILTER conditions, the TOPCOUNT key, and
        # the ORDER key alike.
        extra_exprs = req.having \
            + ([f"[Measures].[{req.topcount.measure}]"]
               if req.topcount else []) \
            + ([f"[Measures].[{req.toppercent.measure}]"]
               if req.toppercent else []) \
            + ([f"[Measures].[{req.order_by[0]}]"]
               if req.order_by else []) \
            + [f"[Measures].[{m}]" for m in req.non_empty_measures]

        def need_base(name: str) -> None:
            if name in calc_by_name:
                return
            if name not in base_names:
                base_names.append(name)

        materialized: set[str] = set()
        _stack: list[str] = []

        def ensure_calc(name: str) -> None:
            """DFS-materialize ``name`` after its calc dependencies
            (calc-over-calc); a reference cycle fails with the chain."""
            if name in materialized:
                return
            if name in _stack:
                chain = " -> ".join(_stack[_stack.index(name):] + [name])
                raise QueryValidationError(
                    f"calculated measure reference cycle: {chain}")
            _stack.append(name)
            c = calc_by_name[name]
            builder, refs = parse_measure_expr(c.expr)
            for r in refs:
                if not isinstance(r, str):
                    continue        # PrevMember / setagg marker
                if r in calc_by_name:
                    ensure_calc(r)
                else:
                    need_base(r)
            _stack.pop()
            calc_plan.append((c, builder))
            materialized.add(name)

        for name in selected:
            if name in calc_by_name:
                ensure_calc(name)
                out_aliases.append(calc_by_name[name].alias)
            else:
                need_base(name)
                m = cube.measure(name)
                out_aliases.append(m.out_name or m.name)
        for cond in extra_exprs:
            _, refs = parse_measure_expr(cond)
            for r in refs:
                if not isinstance(r, str):
                    continue        # PrevMember / setagg marker
                if r in calc_by_name:
                    # a clause references a declared calc that is not on
                    # the columns axis: materialize it anyway (projected
                    # away in the final select)
                    ensure_calc(r)
                else:
                    need_base(r)
        # unreferenced declared calcs still compile (fail fast on typos)
        for c in req.calculated:
            if c.name not in materialized:
                builder, refs = parse_measure_expr(c.expr)
                for r in refs:
                    if isinstance(r, str) and r not in calc_by_name:
                        need_base(r)
        bases = [cube.measure(n) for n in base_names]
        return bases, out_aliases, calc_plan

    # ---- cardinality guard (N18) ------------------------------------------

    def _card_spill_path(self, cube: CubeDef) -> str:
        # Next to the fingerprint-keyed members cache so a structure
        # change invalidates both together.
        from .metadata import _disk_cache_path
        return _disk_cache_path(self.spark, cube, self.sf_dir) + "_cards.json"

    def _load_card_spill(self, cube: CubeDef) -> None:
        import json
        self._card_spill_loaded.add(cube.name)
        try:
            with open(self._card_spill_path(cube), encoding="utf-8") as f:
                for k, n in json.load(f).items():
                    parts = tuple(k.split("|"))
                    if len(parts) == 4 and isinstance(n, int):
                        self._card_cache.setdefault(parts, n)
        except (OSError, ValueError):
            pass   # miss/corrupt → counts recompute and re-spill below

    def _save_card_spill(self, cube: CubeDef) -> None:
        import json
        import os
        path = self._card_spill_path(cube)
        payload = {"|".join(k): n for k, n in self._card_cache.items()
                   if k[0] == cube.name}
        try:
            os.makedirs(os.path.dirname(path), exist_ok=True)
            tmp = f"{path}.{os.getpid()}.tmp"
            with open(tmp, "w", encoding="utf-8") as f:
                json.dump(payload, f)
            os.replace(tmp, path)   # atomic: concurrent engines last-wins
        except OSError:
            pass   # spill is an optimization; the in-memory cache stands

    def level_cardinality(self, cube: CubeDef, dim: Dimension, lv: Level) -> int:
        # Count members on the ENUMERATION view (members_view), never the
        # fact-bridge view: SSAS level cardinality is the number of members
        # (they exist without fact rows), and the slim dimension scan is
        # orders of magnitude cheaper than distinct-counting the bridge
        # join — this runs as a guard BEFORE every cube query, so its cost
        # is pure overhead on the query path.  Counts spill to a JSON file
        # next to the fingerprint-keyed members cache so a FRESH engine
        # process skips the per-level distinct scans entirely (this was
        # most of the cold-vs-warm gap on cube_* queries).
        key = (cube.name, dim.name, dim.view or "", lv.name)
        if key not in self._card_cache \
                and cube.name not in self._card_spill_loaded:
            self._load_card_spill(cube)
        if key not in self._card_cache:
            if dim.view is None:
                # degenerate dim: the derived level col prunes to its raw
                # source col at the scan (Catalyst column pruning)
                src = cube.fact(self.spark, self.sf_dir)
            else:
                src = self._view(cube, dim.members_view or dim.view)
            self._card_cache[key] = (
                src.select(lv.key_col).distinct().count())
            self._save_card_spill(cube)
        return self._card_cache[key]

    def estimate_cardinality(self, cube: CubeDef, axes: list[ResolvedAxis]) -> int:
        est = 1
        for ax in axes:
            if ax.member_constraints is not None:
                est *= max(len(ax.member_constraints), 1)
            else:
                est *= max(self.level_cardinality(cube, ax.dimension, ax.level), 1)
        return est

    # ---- DRILLTHROUGH ------------------------------------------------------

    def _drillthrough(self, cube: CubeDef, req: QueryRequest) -> DataFrame:
        """``DRILLTHROUGH [MAXROWS n] SELECT ...`` — the underlying
        FACT rows behind the selected cells (the SSAS drillthrough
        contract: the cube's measures dissolve back into source rows;
        axis member sets, filters and slicers all become row
        predicates).  Returns the fact table's natural columns.

        Scale shape: the identical predicate pushdown as the
        aggregate path (key-column constraints reach the parquet
        scan), no groupBy at all; MAXROWS bounds the result via a
        deterministic (first fact-key columns) rank so retries and
        engines agree on WHICH rows survive — a bare LIMIT would be
        partition-order-dependent."""
        if req.calculated or req.having or req.topcount \
                or req.order_by or req.head_tail or req.toppercent \
                or req.variables or req.all_measures:
            raise QueryValidationError(
                "DRILLTHROUGH takes a plain cell selection — no "
                "calculated measures, set functions or variables")
        axes = [self._resolve_axis(cube, item) for item in req.rows]
        filters = [(cube.dimension(f.dimension),
                    cube.dimension(f.dimension).hierarchy(f.hierarchy),
                    f.members) for f in req.filters + req.subselects]
        # WHERE slicers GROUP by (dimension, hierarchy) exactly as the
        # aggregate path does (the SSAS set-in-slicer contract): a
        # flattened WHERE set {m1, m2} must OR within its hierarchy —
        # one _member_paths call per hierarchy group.  Building one
        # conjunct per member here would AND them (key='A' AND key='B')
        # and silently return zero rows.
        slicer_groups: dict[tuple, list] = {}
        slicer_order: list[tuple] = []
        for sl in req.slicers:
            pth = naming.parse(sl)
            key = (pth.dimension, pth.hierarchy)
            if key not in slicer_groups:
                slicer_groups[key] = []
                slicer_order.append(key)
            slicer_groups[key].append(sl)
        slicers = []
        for key in slicer_order:
            dim = cube.dimension(key[0])
            slicers.append((dim, dim.hierarchy(key[1]),
                            slicer_groups[key]))

        from .session import load_table
        # natural columns = the raw fact table's (derived degenerate-
        # dim columns like anio/mes are query-time sugar, not source)
        fact_cols = load_table(self.spark, self.sf_dir,
                               cube.fact_table).columns
        joined = self._join_views(
            cube, [a.dimension for a in axes]
            + [d for d, _, _ in filters + slicers])
        for ax in axes:
            if ax.member_constraints:
                joined = joined.filter(
                    self._paths_predicate(joined, ax.member_constraints))
        for dim, hier, members in filters + slicers:
            paths = self._member_paths(cube, dim, hier, members)
            if paths:
                joined = joined.filter(
                    self._paths_predicate(joined, paths))
        # RETURN clause (SSAS: project a subset of the underlying
        # columns): fact column names in brackets, or [Measures].[X]
        # resolving to the measure's SOURCE column (the SSAS
        # drillthrough-RETURN contract — measures dissolve back into
        # the raw column, so COUNT(*) measures have nothing to return).
        out_cols = fact_cols
        if req.return_cols:
            resolved: list[str] = []
            for rc in req.return_cols:
                m = re.fullmatch(r"\[Measures\]\s*\.\s*\[([^\]]+)\]",
                                 rc.strip(), re.IGNORECASE)
                if m:
                    try:
                        meas = cube.measure(m.group(1))
                    except KeyError as e:
                        raise QueryValidationError(
                            f"unknown measure in RETURN: "
                            f"{e.args[0]!r}") from e
                    if meas.source_col is None:
                        raise QueryValidationError(
                            f"RETURN [Measures].[{meas.name}]: a "
                            f"COUNT(*) measure has no source column "
                            f"to return")
                    col = meas.source_col
                else:
                    col = rc.strip().strip("[]")
                if col not in fact_cols:
                    raise QueryValidationError(
                        f"RETURN column {rc!r} is not a fact column "
                        f"of {cube.fact_table!r} (have {fact_cols})")
                if col not in resolved:   # dedup, first spelling wins
                    resolved.append(col)
            out_cols = resolved
        out = joined.select(*out_cols)
        if req.max_rows is not None:
            if req.max_rows < 1:
                raise QueryValidationError(
                    f"MAXROWS must be >= 1: {req.max_rows}")
            # Deterministic bound: total order over ALL output columns
            # (the first two alone are not a key — lineitem repeats
            # (l_orderkey, l_partkey); ties there made the cut
            # partition/retry-dependent).  Ties under the full order
            # are identical rows, so WHICH survive is immaterial —
            # the output MULTISET is deterministic even under a
            # RETURN projection.  orderBy().limit() compiles to
            # TakeOrderedAndProject — per-partition top-n then a
            # single merge of n-row heaps — unlike a row_number
            # window, which funnels the entire filtered scan through
            # one partition.
            out = out.orderBy(*[F.col(c) for c in out_cols]) \
                     .limit(req.max_rows)
        return out

    # ---- main lowering -----------------------------------------------------

    def execute(self, req: QueryRequest, empty_preserving: bool = False,
                warn=print) -> DataFrame:
        cube = self.registry.resolve(req.catalog, req.cube)
        if req.drillthrough:
            return self._drillthrough(cube, req)

        if len(req.rows) > MAX_ROW_DIMS:
            raise QueryValidationError(
                f"at most {MAX_ROW_DIMS} row dimensions "
                f"(reference cap, scanner/DGIS_SCAN_2_stable.py:1223-1229)")
        # Q9: duplicate hierarchy on rows is an error
        seen = set()
        for item in req.rows:
            key = (item.dimension, item.hierarchy)
            if key in seen:
                raise QueryValidationError(
                    f"hierarchy {item.hierarchy!r} appears twice on rows")
            seen.add(key)

        axes = [self._resolve_axis(cube, item) for item in req.rows]

        # Q10: drop filters whose hierarchy is already on rows (with warning)
        row_hiers = {(a.dimension.name, a.hierarchy.name) for a in axes}
        filters = []
        for f in req.filters:
            dim = cube.dimension(f.dimension)
            hier = dim.hierarchy(f.hierarchy)
            if (dim.name, hier.name) in row_hiers:
                warn(f"filter on {hier.name!r} dropped: hierarchy already on rows")
                continue
            filters.append((dim, hier, f.members))

        # Q11 WHERE tuple: members GROUP by hierarchy — OR within a
        # hierarchy (the SSAS set-in-slicer contract, round 9), AND
        # across hierarchies (each group contributes one conjunctive
        # key-path predicate, same pushdown shape as member filters).
        slicer_groups: dict[tuple, list] = {}
        slicer_order: list[tuple] = []
        for s in req.slicers:
            p = naming.parse(s)
            key = (p.dimension, p.hierarchy)
            if key not in slicer_groups:
                slicer_groups[key] = []
                slicer_order.append(key)
            slicer_groups[key].append(s)
        slicer_parsed = []
        for key in slicer_order:
            dim = cube.dimension(key[0])
            hier = dim.hierarchy(key[1])
            slicer_parsed.append((dim, hier, slicer_groups[key]))

        # Subselect restrictions predicate like slicers (members OR
        # within their set, AND across sets) but are exempt from the
        # Q10 on-rows drop rule — restricting a rows hierarchy's
        # member space is the subselect's primary use (VisualTotals).
        for f in req.subselects:
            dim = cube.dimension(f.dimension)
            slicer_parsed.append((dim, dim.hierarchy(f.hierarchy),
                                  f.members))

        variables = [naming.parse(v) for v in req.variables]
        var_dim = var_hier = None
        if variables:
            var_dim = cube.dimension(variables[0].dimension)
            var_hier = var_dim.hierarchy(variables[0].hierarchy)

        # ---- SUM/AGGREGATE over a set literal (SetAggRef) -----------------
        # Collected up front: each distinct (members, measure, forced)
        # becomes ONE conditional aggregate column in the main groupBy
        # (single fact scan — the set restriction is a CASE predicate,
        # never a second aggregation job), and its dimension's view
        # must join like any filter dimension.  FILTER conditions
        # (req.having) are scanned too: a set-aggregate/statistic used
        # only inside FILTER(set, ...) still needs its conditional
        # aggregate columns, or resolve() would KeyError (ADVICE r10).
        setagg_exprs = [c.expr for c in req.calculated] + list(req.having)
        setagg_specs: dict[tuple, str] = {}    # spec key -> alias
        setagg_dims: list = []                  # (dim, hier, members)
        for expr_src in setagg_exprs:
            try:
                _, prefs = parse_measure_expr(expr_src)
            except MeasureExprError:
                prefs = []
            for r in prefs:
                if isinstance(r, str) or r[0] != "__setagg__":
                    continue
                key = (r[1], r[2], r[3])
                if key in setagg_specs:
                    continue
                parsed = [naming.parse(m) for m in r[1]]
                dh = {(p.dimension, p.hierarchy) for p in parsed}
                if len(dh) != 1:
                    raise QueryValidationError(
                        f"set-aggregate members must share one "
                        f"[Dim].[Hier], got {sorted(dh)}")
                # The set is realized as ONE OR-predicate conditional
                # aggregate, which counts a fact row once even when
                # members overlap — whereas SSAS SUM over a set sums
                # per-member values and double-counts.  The two agree
                # only for sets disjoint by construction: distinct
                # members, all at the same depth (an ancestor contains
                # its descendants' rows).  Reject anything else rather
                # than silently diverge from the SSAS contract.
                mkeys = [tuple(p.keys) for p in parsed]
                if len(set(mkeys)) != len(mkeys):
                    dup = sorted({k for k in mkeys
                                  if mkeys.count(k) > 1})
                    raise QueryValidationError(
                        f"set-aggregate members must be distinct "
                        f"(duplicate keys {dup} would double-count "
                        f"in SSAS but not here)")
                if len({p.depth for p in parsed}) != 1:
                    raise QueryValidationError(
                        "set-aggregate members must share one depth "
                        "(an ancestor overlaps its descendants, and "
                        "overlapping members double-count in SSAS "
                        "but not here)")
                try:
                    dim = cube.dimension(parsed[0].dimension)
                    hier = dim.hierarchy(parsed[0].hierarchy)
                except KeyError as e:
                    raise QueryValidationError(
                        f"unknown dimension/hierarchy in set-"
                        f"aggregate: {e.args[0]!r}") from e
                try:
                    base = cube.measure(r[2])
                except KeyError as e:
                    raise QueryValidationError(
                        f"unknown measure in set-aggregate: "
                        f"{e.args[0]!r}") from e
                if r[3] and base.aggregator.upper() not in ("SUM",
                                                            "COUNT"):
                    raise QueryValidationError(
                        f"SUM over a set needs an additive base "
                        f"measure (SUM/COUNT); "
                        f"[Measures].[{r[2]}] aggregates with "
                        f"{base.aggregator} — use AGGREGATE(...)")
                alias = f"_setagg_{len(setagg_specs)}"
                setagg_specs[key] = alias
                setagg_dims.append((dim, hier, list(r[1])))

        # ---- MEDIAN/MIN/MAX over a set literal (SetStatRef) ---------------
        # Per-member conditional aggregates in the SAME groupBy (one
        # fact scan; the statistic is a post-agg array expression).
        # Unlike SetAggRef, members may sit at DIFFERENT depths — each
        # member's cell is evaluated independently, so an ancestor
        # next to its child is the SSAS contract, not double-counting.
        setstat_specs: dict[tuple, str] = {}   # spec key -> alias prefix
        setstat_dims: list = []                 # (dim, hier, members)
        for expr_src in setagg_exprs:          # calculated + having
            try:
                _, prefs = parse_measure_expr(expr_src)
            except MeasureExprError:
                prefs = []
            for r in prefs:
                if isinstance(r, str) or r[0] != "__setstat__":
                    continue
                key = (r[1], r[2], r[3])
                if key in setstat_specs:
                    continue
                parsed = [naming.parse(m) for m in r[1]]
                dh = {(p.dimension, p.hierarchy) for p in parsed}
                if len(dh) != 1:
                    raise QueryValidationError(
                        f"set-statistic members must share one "
                        f"[Dim].[Hier], got {sorted(dh)}")
                mkeys = [tuple(p.keys) for p in parsed]
                if len(set(mkeys)) != len(mkeys):
                    dup = sorted({k for k in mkeys
                                  if mkeys.count(k) > 1})
                    raise QueryValidationError(
                        f"set-statistic members must be distinct "
                        f"(duplicates {dup} would skew the "
                        f"per-member value distribution)")
                try:
                    dim = cube.dimension(parsed[0].dimension)
                    hier = dim.hierarchy(parsed[0].hierarchy)
                except KeyError as e:
                    raise QueryValidationError(
                        f"unknown dimension/hierarchy in set-"
                        f"statistic: {e.args[0]!r}") from e
                try:
                    cube.measure(r[2])
                except KeyError as e:
                    raise QueryValidationError(
                        f"unknown measure in set-statistic: "
                        f"{e.args[0]!r}") from e
                alias = f"_setstat_{len(setstat_specs)}"
                setstat_specs[key] = alias
                setstat_dims.append((dim, hier, list(r[1])))

        if (req.calculated or req.having or req.topcount
                or req.order_by or req.head_tail
                or req.toppercent or req.non_empty_measures) and variables:
            raise QueryValidationError(
                "calculated measures / FILTER / NONEMPTY / TOPCOUNT / "
                "TOPPERCENT / ORDER / HEAD / TAIL do not combine with "
                "a variables pivot")
        if req.head_tail is not None and not req.rows:
            raise QueryValidationError(
                "HEAD / TAIL need a rows axis to order")
        if (req.having or req.topcount or req.head_tail
                or req.toppercent or req.non_empty_measures) \
                and empty_preserving:
            raise QueryValidationError(
                "FILTER / NONEMPTY / TOPCOUNT / TOPPERCENT / HEAD / "
                "TAIL over an empty-preserving axis is ambiguous "
                "(filter before or after the preserved empty rows?) "
                "— run one or the other")
        measures, out_aliases, calc_plan = self._resolve_measure_plan(
            cube, req)

        # cardinality guard (reference warns >100k, N18)
        est = self.estimate_cardinality(cube, axes)
        if est > CARDINALITY_WARN_THRESHOLD:
            warn(f"estimated result cardinality {est:,} exceeds "
                 f"{CARDINALITY_WARN_THRESHOLD:,}")

        # ---- build the joined relation (one join per physical view) -------
        joined = self._join_views(
            cube, [a.dimension for a in axes]
            + [d for d, _, _ in
               filters + slicer_parsed + setagg_dims + setstat_dims]
            + ([var_dim] if var_dim else []))

        # ---- predicates ----------------------------------------------------
        for ax in axes:
            if ax.member_constraints:
                joined = joined.filter(
                    self._paths_predicate(joined, ax.member_constraints))
        for dim, hier, members in filters + slicer_parsed:
            paths = self._member_paths(cube, dim, hier, members)
            if paths:
                joined = joined.filter(self._paths_predicate(joined, paths))
        if variables:
            vpaths = [[(var_hier.levels[i], k) for i, k in enumerate(v.keys)]
                      for v in variables if v.depth > 0]
            joined = joined.filter(self._paths_predicate(joined, vpaths))

        # ---- group / aggregate --------------------------------------------
        # PrevMember lag windows order by the axis's ORDINAL columns
        # when the level declares one (SSAS member order is key/ordinal
        # order, not caption order — months must lag chronologically,
        # not alphabetically), so those ordinals ride the groupBy under
        # reserved aliases and are projected away after the calc step.
        # Caption<->ordinal is 1:1 within a well-formed level, so the
        # extra keys never change group cardinality.
        prev_hiers: set[tuple[str, str]] = set()
        for c in req.calculated:
            try:
                _, prefs = parse_measure_expr(c.expr)
            except MeasureExprError:
                prefs = []
            for r in prefs:
                if not isinstance(r, str) and r[0] not in (
                        "__setagg__", "__setstat__"):
                    prev_hiers.add((r[1].upper(), r[2].upper()))

        def _is_lag_axis(ax) -> bool:
            for d, h in prev_hiers:
                if h == ax.hierarchy.name.upper() and (
                        d == ax.dimension.name.upper()
                        or all(d != a.dimension.name.upper()
                               for a in axes)):
                    return True
            return False

        group_cols: list[Column] = []
        group_names: list[str] = []
        ordinal_names: dict[str, str] = {}   # out_name -> ordinal alias
        for ax in axes:
            lag_axis = prev_hiers and _is_lag_axis(ax)
            for lv in ax.ancestors + [ax.level]:
                group_cols.append(F.col(lv.caption_col).alias(lv.out_name))
                group_names.append(lv.out_name)
                if lag_axis and lv.ordinal_col:
                    alias = f"_ord_{lv.out_name}"
                    group_cols.append(F.col(lv.ordinal_col).alias(alias))
                    ordinal_names[lv.out_name] = alias

        # conditional aggregate columns for set-aggregate calc members:
        # CASE WHEN <member-path predicate> THEN src END through the
        # base measure's own aggregator (DECIMAL(18,4) for SUM/AVG —
        # the Measure.agg_expr discipline)
        def _cond_agg(m, pred, alias) -> Column:
            """The measure's own aggregator over CASE WHEN pred THEN
            src END (DECIMAL(18,4) for SUM/AVG — Measure.agg_expr
            discipline); shared by SetAggRef and SetStatRef columns."""
            agg = m.aggregator.upper()
            if agg == "COUNT" and m.source_col is None:
                return F.count(F.when(pred, F.lit(1))).alias(alias)
            col = F.when(pred, F.col(m.source_col))
            if agg == "SUM":
                return (F.sum(col.cast("decimal(18,4)")).cast("double")
                        .alias(alias))
            if agg == "AVG":
                return (F.sum(col.cast("decimal(18,4)")).cast("double")
                        / F.count(col)).alias(alias)
            fn = {"COUNT": F.count, "MIN": F.min, "MAX": F.max}[agg]
            return fn(col).alias(alias)

        setagg_aggs: list[Column] = []
        for (members, meas_name, _forced), alias in setagg_specs.items():
            dim, hier, mlist = next(
                (d, h, ms) for d, h, ms in setagg_dims
                if tuple(ms) == members)
            paths = self._member_paths(cube, dim, hier, mlist)
            pred = self._paths_predicate(joined, paths)
            setagg_aggs.append(
                _cond_agg(cube.measure(meas_name), pred, alias))

        # one conditional aggregate PER MEMBER for the set statistics
        # (still the same single scan; fanout = set literal size)
        setstat_aggs: list[Column] = []
        for (members, meas_name, _stat), alias in setstat_specs.items():
            dim, hier, mlist = next(
                (d, h, ms) for d, h, ms in setstat_dims
                if tuple(ms) == members)
            m = cube.measure(meas_name)
            for i, mem in enumerate(mlist):
                paths = self._member_paths(cube, dim, hier, [mem])
                pred = self._paths_predicate(joined, paths)
                setstat_aggs.append(_cond_agg(m, pred, f"{alias}_{i}"))

        if variables:
            # Q17: variables take the COLUMNS role → pivot on the leaf
            # variable caption with an explicit value list (captions resolved
            # from the dim view: bounded metadata lookup).
            leaf = var_hier.levels[max(v.depth for v in variables) - 1]
            view = self._view(cube, var_dim.view)
            vpaths = [[(var_hier.levels[i], k) for i, k in enumerate(v.keys)]
                      for v in variables if v.depth > 0]
            captions = [
        r[0] for r in view.filter(self._paths_predicate(view, vpaths))
                .select(leaf.caption_col).distinct().collect()]
            measure = measures[0]
            out = (
                joined.groupBy(*group_cols)
                      .pivot(leaf.caption_col, sorted(captions))
                      .agg(measure.agg_expr())
            )
            if measure.never_null:
                # COUNT of an empty cell is 0, not NULL (SSAS semantics)
                out = out.na.fill(0, subset=sorted(captions))
            return out

        if group_cols:
            out = joined.groupBy(*group_cols).agg(
                *[m.agg_expr() for m in measures], *setagg_aggs,
                *setstat_aggs)
        else:
            out = joined.agg(*[m.agg_expr() for m in measures],
                             *setagg_aggs, *setstat_aggs)

        # NON EMPTY: drop rows whose measure cells are all NULL (Q12).
        # An all-calculated query has no base measures to test here —
        # the calc columns don't exist yet, so the test moves AFTER the
        # calc step (below) instead of silently no-op'ing (ADVICE r10).
        if req.non_empty and measures \
                and not any(m.never_null for m in measures):
            cond = reduce(lambda a, b: a | b,
                          [F.col(m.out_name or m.name).isNotNull()
                           for m in measures])
            out = out.filter(cond)

        # ---- MDX extensions: WITH MEMBER / FILTER / TOPCOUNT / ORDER ------
        # All post-aggregation: they see one column per base measure and
        # never touch fact rows, so their cost is bounded by axis
        # cardinality (the same rows the guard above already estimated).
        # per-axis output columns, for PrevMember lag windows: the named
        # hierarchy orders the window, every other row hierarchy
        # partitions it (period-over-period within each crossjoined
        # group)
        axis_order = {
            (ax.dimension.name.upper(), ax.hierarchy.name.upper()):
            [lv.out_name for lv in ax.ancestors + [ax.level]]
            for ax in axes}

        def resolve(name):
            if isinstance(name, SetAggRef):
                return F.col(setagg_specs[
                    (name.members, name.measure, name.forced_sum)])
            if isinstance(name, SetStatRef):
                alias = setstat_specs[
                    (name.members, name.measure, name.stat)]
                arr = F.array_sort(F.filter(
                    F.array(*[F.col(f"{alias}_{i}")
                              for i in range(len(name.members))]),
                    lambda x: x.isNotNull()))
                n = F.size(arr)
                if name.stat == "MIN":
                    return F.when(n > 0, F.element_at(arr, 1))
                if name.stat == "MAX":
                    return F.when(n > 0, F.element_at(arr, n))
                # MEDIAN: IEEE mean of the two middle per-member
                # values (the same element twice for odd counts)
                a = F.element_at(arr, ((n + 1) / 2).cast("int"))
                b = F.element_at(arr, ((n + 2) / 2).cast("int"))
                return F.when(n > 0, (a + b) / F.lit(2.0))
            if isinstance(name, (LagRef, YtdRef, LastPeriodsRef,
                                 RankRef)):
                order = axis_order.get(
                    (name.dimension.upper(), name.hierarchy.upper()))
                if order is None:
                    # lenient fallback: a uniquely-named hierarchy
                    # resolves without its dimension qualifier matching
                    # the post-rewrite name
                    hits = [v for (d, h), v in axis_order.items()
                            if h == name.hierarchy.upper()]
                    if len(hits) != 1:
                        raise QueryValidationError(
                            f"PrevMember/YTD hierarchy "
                            f"[{name.dimension}]."
                            f"[{name.hierarchy}] is not on ROWS")
                    order = hits[0]
                others = [g for g in group_names if g not in order]
                if isinstance(name, RankRef):
                    # no tiebreak columns: equal values share a rank
                    # (with gaps), the SQL RANK / SSAS tie contract
                    w = SqlWindow.partitionBy(
                        *[F.col(g) for g in others]).orderBy(
                        name.col.desc_nulls_last())
                    return F.rank().over(w)
                if isinstance(name, LagRef):
                    w = SqlWindow.partitionBy(
                        *[F.col(g) for g in others]).orderBy(
                        *[F.col(ordinal_names.get(g, g)) for g in order])
                    step = F.lead if name.forward else F.lag
                    return step(name.col, name.n).over(w)
                if isinstance(name, LastPeriodsRef):
                    # trailing n members at the level, crossing parent
                    # boundaries: the FULL axis order (ancestors then
                    # leaf ordinal) sequences the window
                    w = (SqlWindow.partitionBy(
                            *[F.col(g) for g in others])
                         .orderBy(*[F.col(ordinal_names.get(g, g))
                                    for g in order])
                         .rowsBetween(-(name.n - 1),
                                      SqlWindow.currentRow))
                    return (F.sum(name.col.cast("decimal(18,4)"))
                            .over(w).cast("double"))
                # YTD: the axis's ancestor levels PARTITION (months
                # accumulate within their year), the leaf level orders;
                # DECIMAL(18,4) accumulation => order-independent,
                # oracle-reproducible running sums.  At the hierarchy's
                # TOP level there is no parent period to accumulate
                # within, and SSAS PeriodsToDate at the member's own
                # grain yields {member} — partition by the leaf itself
                # so each member reports its own value, never a
                # cross-parent running total.
                leaf = order[-1]
                part = others + (order[:-1] or [leaf])
                w = (SqlWindow.partitionBy(*[F.col(g) for g in part])
                     .orderBy(F.col(ordinal_names.get(leaf, leaf)))
                     .rowsBetween(SqlWindow.unboundedPreceding,
                                  SqlWindow.currentRow))
                return (F.sum(name.col.cast("decimal(18,4)")).over(w)
                        .cast("double"))
            m = cube.measure(name)
            return F.col(m.out_name or m.name)

        done_calcs: dict[str, str] = {}

        def resolve_chain(name):
            # calc-over-calc: an already-materialized calc resolves to
            # its column; everything else falls through to the base /
            # window resolver (an out-of-order calc ref would raise on
            # cube.measure — the topological order above prevents it)
            if isinstance(name, str) and name in done_calcs:
                return F.col(done_calcs[name])
            return resolve(name)

        for c, builder in calc_plan:
            out = out.withColumn(c.alias, builder(resolve_chain))
            done_calcs[c.name] = c.alias

        # Q12 on an all-calculated query: no base measure cells exist,
        # so NON EMPTY tests the SELECTED calc cells once materialized
        # (SSAS drops rows whose calculated cells are all empty).
        if req.non_empty and not measures and calc_plan:
            sel = set(out_aliases)
            calc_cols = [c.alias for c, _ in calc_plan
                         if c.alias in sel]
            if calc_cols:
                out = out.filter(reduce(
                    lambda a, b: a | b,
                    [F.col(a).isNotNull() for a in calc_cols]))

        def resolve_out(name):
            if isinstance(name, (LagRef, YtdRef, LastPeriodsRef,
                                 RankRef)):
                return resolve(name)
            calc = {c.name: c for c in req.calculated}.get(name)
            if calc is not None:
                return F.col(calc.alias)
            return resolve(name)

        for mname in req.non_empty_measures:   # NONEMPTY(set, m)
            out = out.filter(resolve_out(mname).isNotNull())
        for cond_expr in req.having:     # FILTER(set, condition)
            builder, _ = parse_measure_expr(cond_expr)
            out = out.filter(builder(resolve_out))
        if req.topcount is not None:     # TOPCOUNT/BOTTOMCOUNT
            key = resolve_out(req.topcount.measure)
            key = (key.asc_nulls_last() if req.topcount.bottom
                   else key.desc())
            out = (out.orderBy(key, *[F.col(g) for g in group_names])
                   .limit(req.topcount.n))
        if req.toppercent is not None:   # TOPPERCENT/TOPSUM (+BOTTOM)
            # One cumulative window over the aggregated axis rows: a
            # row survives while the running total ABOVE it is still
            # short of the threshold (the minimal prefix whose sum
            # reaches it — SSAS TopPercent/TopSum).  All arithmetic is
            # exact DECIMAL: NULL cells coalesce to 0 and sort last,
            # percent compares as cum*100 < total*p (no division), so
            # the oracle reproduces the cut bit-for-bit.
            tp = req.toppercent
            key = resolve_out(tp.measure)
            kdec = F.coalesce(key, F.lit(0)).cast("decimal(18,4)")
            order_cols = ([key.asc_nulls_last() if tp.bottom
                           else key.desc_nulls_last()]
                          + [F.col(g) for g in group_names])
            wcum = (SqlWindow.orderBy(*order_cols)
                    .rowsBetween(SqlWindow.unboundedPreceding, -1))
            cum_before = F.coalesce(
                F.sum(kdec).over(wcum),
                F.lit(0).cast("decimal(18,4)"))
            if tp.absolute:
                keep = cum_before < F.lit(int(tp.threshold))
            else:
                wtot = SqlWindow.orderBy(*order_cols).rowsBetween(
                    SqlWindow.unboundedPreceding,
                    SqlWindow.unboundedFollowing)
                total = F.sum(kdec).over(wtot)
                keep = (cum_before * 100) < (total
                                             * int(tp.threshold))
            out = (out.withColumn("_tp_keep", keep)
                   .filter(F.col("_tp_keep")).drop("_tp_keep")
                   .orderBy(*order_cols))
        if req.order_by is not None:     # ORDER(set, measure, DESC|ASC)
            name, desc = req.order_by
            key = resolve_out(name)
            out = out.orderBy(key.desc() if desc else key.asc(),
                              *[F.col(g) for g in group_names])
        if req.head_tail is not None:    # HEAD/TAIL(set, n)
            # set order = the ORDER key when present, else canonical
            # group-column ascending.  TAIL = TakeOrderedAndProject on
            # the REVERSED key, then restore forward order on n rows.
            if req.order_by is not None:
                name, desc = req.order_by
                key = resolve_out(name)
                fwd = [key.desc() if desc else key.asc(),
                       *[F.col(g) for g in group_names]]
                rev = [key.asc() if desc else key.desc(),
                       *[F.col(g).desc() for g in group_names]]
            else:
                fwd = [F.col(g) for g in group_names]
                rev = [F.col(g).desc() for g in group_names]
            if req.head_tail.tail:
                out = (out.orderBy(*rev).limit(req.head_tail.n)
                       .orderBy(*fwd))
            else:
                out = out.orderBy(*fwd).limit(req.head_tail.n)
        if calc_plan or req.having or req.topcount or req.order_by \
                or req.head_tail or req.toppercent or ordinal_names \
                or setagg_aggs or setstat_aggs or req.non_empty_measures:
            # project LAST to the SELECTED measures, so FILTER/TOPCOUNT/
            # ORDER can reference bases or calcs that are not in the
            # output (Spark keeps the sort order across the projection).
            # ordinal_names forces the projection even when no declared
            # calc was selected (calc_plan empty): the reserved _ord_*
            # groupBy columns must never reach the result schema.
            out = out.select(*group_names, *out_aliases)

        if empty_preserving and group_names:
            out = self._preserve_empty(cube, axes, out, group_names)
        return out

    # ---- empty-preserving axis (SURVEY §7.3#1) -----------------------------

    def _preserve_empty(self, cube: CubeDef, axes: list[ResolvedAxis],
                        agg: DataFrame, group_names: list[str]) -> DataFrame:
        est = self.estimate_cardinality(cube, axes)
        if est > CARDINALITY_WARN_THRESHOLD * 10:
            raise QueryValidationError(
                f"empty-preserving axis of ~{est:,} rows refused "
                f"(guard threshold)")
        frames = []
        for ax in axes:
            if ax.dimension.view is None:
                src = cube.fact(self.spark, self.sf_dir)
            else:
                src = self._view(cube, ax.dimension.view)
            cols = [F.col(lv.caption_col).alias(lv.out_name)
                    for lv in ax.ancestors + [ax.level]]
            f = src.select(*cols).distinct()
            if ax.member_constraints:
                f = src.filter(self._paths_predicate(src, ax.member_constraints)) \
                       .select(*cols).distinct()
            frames.append(f)
        axis = reduce(lambda a, b: a.crossJoin(b), frames)
        return axis.join(agg, on=group_names, how="left")
