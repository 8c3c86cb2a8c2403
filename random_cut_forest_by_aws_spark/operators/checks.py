"""Declarative constraint checks — the deequ-style ``Check`` builder.

The suite's fixed checks (stats / uniqueness / referential / drift)
cover the engine's own invariants; production tables also carry
table-specific rules ("lang must be one of ...", "99% of rows must have
n_chars >= 10", "mean length between A and B"). This module gives those
rules a declarative surface that compiles the WHOLE rule set into ONE
conditional aggregate over ONE scan — the same scan-sharing idea as
deequ's analyzer runner, expressed directly in Catalyst:

* every row-level rule becomes a ``sum(case when coalesce(pred, false)
  then 1 else 0 end)`` column in a single partial-aggregated pass (each
  task ships one row across the exchange regardless of input size);
* every aggregate-level rule (min/max/mean/sum/size/distinctness) adds
  its aggregate expression to the SAME pass — ``count(distinct)`` plans
  an Expand but still reads the scan once;
* the verdict table is an ``inline`` unpack of the single aggregated
  row: one verdict row per constraint, nothing row-scale past the
  aggregate, no driver collect.

NULL predicate results count as FAILURES (a rule that cannot evaluate
should quarantine, not pass). Predicates are accepted as SQL strings in
the ANSI subset both Spark and DuckDB parse alike, so the driver gate's
oracle replays the IDENTICAL text; regexes should stay in the Java∩RE2
dialect subset (see operators/scrub.py).

Reference analogue: the reference engine validates per-row token
invariants inside its test harness (SURVEY §5); this is the
user-facing generalization the north-star "constraint validation
engine" calls for (cf. deequ's ``Check``/``VerificationSuite``).
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from decimal import ROUND_HALF_UP, Context, Decimal

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_OPS = {">=", "<="}


def _spark_round(x: float, dp: int) -> float:
    """``F.round(x, dp)`` on the driver: HALF_UP on the shortest decimal
    form of ``x``, as Spark rounds a double. Python's ``round`` is
    half-to-even on the binary value (``round(5e-7, 6)`` is 0.0, Spark
    reads 1e-06). Non-finite values pass through."""
    if not math.isfinite(x):
        return x
    return float(Decimal(repr(x)).quantize(
        Decimal(1).scaleb(-dp), ROUND_HALF_UP, Context(prec=1000)))


#: builder methods reachable from JSON specs (plans/job.py --rules-json)
_SPEC_METHODS = frozenset({
    "satisfies", "is_complete", "has_completeness", "is_contained_in",
    "has_pattern", "is_non_negative", "has_min", "has_max", "has_mean",
    "has_sum", "has_size", "has_distinctness", "is_unique",
    "has_correlation", "has_standard_deviation", "has_min_length",
    "has_max_length", "has_entropy", "has_uniqueness",
    "has_unique_value_ratio", "has_mutual_information", "has_quantile",
    "are_complete", "is_primary_key", "has_approx_count_distinct",
    "has_top_value_share", "is_positive", "has_data_type",
    "contains_email", "contains_url",
})

#: frequency-based analyzers that need a per-value aggregation of their
#: own (deequ's "grouping" analyzers — its AnalysisRunner separates
#: these from scan-sharing analyzers for exactly this reason). Each
#: distinct basis (one column, or the column pair for MI) costs ONE
#: extra aggregation whose exchange carries only the distinct values;
#: all rules on the same basis share it, and the per-group metric rows
#: are broadcast-joined back onto the scan-sharing verdict row.
_GROUPING_AGGS = frozenset({
    "entropy", "uniqueness", "unique_value_ratio", "mutual_information",
    "top_value_share",
})


@dataclass(frozen=True)
class _Rule:
    kind: str  # 'frac' (row predicate) | 'agg'
    name: str
    column: str
    predicate: str | None  # SQL predicate for kind='frac'
    agg: str | None  # 'min'|'max'|'mean'|'sum'|'size'|'distinctness'|'corr'
    op: str
    threshold: float
    column2: str | None = None  # second column for 'corr'
    param: float | None = None  # q for 'quantile'


def check_from_spec(spec: dict) -> "Check":
    """Build a Check from a JSON-able spec — the spark-submit surface
    (``plans/job.py --rules-json``) so declarative rules ship as config,
    not code::

        {"name": "docs_rules", "rules": [
            {"type": "is_complete", "column": "text"},
            {"type": "satisfies", "predicate": "n_chars >= 10",
             "name": "min_chars", "min_fraction": 0.99},
            {"type": "has_mean", "column": "n_chars", "at_most": 1e6}]}

    ``type`` names a builder method; remaining keys are its kwargs.
    """
    chk = Check(spec["name"], round_dp=int(spec.get("round_dp", 6)))
    rules = spec.get("rules") or ()
    if not rules:
        raise ValueError(f"check {spec.get('name')!r}: empty rules list")
    for rule in rules:
        kw = dict(rule)
        typ = kw.pop("type", None)
        if typ not in _SPEC_METHODS:
            raise ValueError(
                f"unknown rule type {typ!r}; allowed: {sorted(_SPEC_METHODS)}"
            )
        getattr(chk, typ)(**kw)
    return chk


class Check:
    """Chainable constraint set over one DataFrame, one scan.

    >>> verdicts = (Check("docs")
    ...     .is_complete("text")
    ...     .is_contained_in("lang", ["en", "de", "fr"])
    ...     .satisfies("n_chars >= 10", "min_chars", min_fraction=0.99)
    ...     .has_min("n_chars", at_least=0)
    ...     .has_mean("n_chars", at_most=1e6)
    ...     .is_unique("doc_id")
    ...     .run(df))
    """

    def __init__(self, name: str, round_dp: int = 6):
        self.name = name
        self.round_dp = round_dp
        self._rules: list[_Rule] = []

    # -- row-predicate rules (metric = satisfied fraction) ------------

    def satisfies(
        self, predicate: str, name: str, min_fraction: float = 1.0,
        column: str = "",
    ) -> "Check":
        """At least ``min_fraction`` of rows satisfy the SQL predicate.
        NULL predicate results fail."""
        self._rules.append(_Rule("frac", name, column, predicate, None,
                                 ">=", float(min_fraction)))
        return self

    def is_complete(self, column: str) -> "Check":
        return self.satisfies(f"{column} IS NOT NULL",
                              f"complete({column})", 1.0, column)

    def has_completeness(self, column: str, min_fraction: float) -> "Check":
        return self.satisfies(f"{column} IS NOT NULL",
                              f"completeness({column})", min_fraction, column)

    def is_contained_in(
        self, column: str, allowed: list[str], min_fraction: float = 1.0
    ) -> "Check":
        vals = ", ".join("'" + v.replace("'", "''") + "'" for v in allowed)
        return self.satisfies(f"{column} IN ({vals})",
                              f"contained({column})", min_fraction, column)

    def has_pattern(
        self, column: str, regex: str, min_fraction: float = 1.0
    ) -> "Check":
        """Keep ``regex`` in the Java∩RE2 dialect subset so the DuckDB
        oracle replay agrees (no lookaround, no \\p posix classes)."""
        esc = regex.replace("'", "''")
        return self.satisfies(f"regexp_like({column}, '{esc}')",
                              f"pattern({column})", min_fraction, column)

    def is_non_negative(self, column: str, min_fraction: float = 1.0) -> "Check":
        return self.satisfies(f"{column} >= 0",
                              f"non_negative({column})", min_fraction, column)

    def is_positive(self, column: str, min_fraction: float = 1.0) -> "Check":
        return self.satisfies(f"{column} > 0",
                              f"positive({column})", min_fraction, column)

    def has_data_type(self, column: str, dtype: str,
                      min_fraction: float = 1.0) -> "Check":
        """deequ hasDataType: at least ``min_fraction`` of rows are
        NULL or parse as ``dtype`` ('numeric' | 'integral' |
        'boolean') — i.e. at most 1−min_fraction of rows hold a
        non-parseable value (a NULL carries no type evidence; bound
        NULLs separately with is_complete). TRY_CAST keeps the probe
        ANSI-safe and replays in DuckDB; prefer 'numeric' in
        cross-engine gates ('integral'/'boolean' string-acceptance
        grammars differ slightly between engines on exotic literals)."""
        spark_t = {"numeric": "DOUBLE", "integral": "BIGINT",
                   "boolean": "BOOLEAN"}.get(dtype)
        if spark_t is None:
            raise ValueError(f"dtype must be numeric|integral|boolean, "
                             f"got {dtype!r}")
        pred = (f"({column} IS NULL) OR "
                f"(TRY_CAST({column} AS {spark_t}) IS NOT NULL)")
        return self.satisfies(pred, f"data_type({column},{dtype})",
                              min_fraction, column)

    def contains_email(self, column: str, max_fraction: float = 0.0) -> "Check":
        """No more than ``max_fraction`` of rows contain an email-shaped
        substring (PII hygiene gate; pattern shared with
        operators/scrub.py). The ``\\.`` is rewritten to ``[.]``: this
        rule travels inside an SQL string literal, and Spark processes
        backslash escapes in literals while DuckDB does not — a bare
        backslash in a shared predicate silently diverges. Implemented
        as the complement fraction (rule ops are >=)."""
        from .scrub import PII_PATTERNS

        pat = PII_PATTERNS["email"].replace("\\.", "[.]")
        pred = f"NOT COALESCE(regexp_like({column}, '{pat}'), FALSE)"
        return self.satisfies(pred, f"no_email({column})",
                              1.0 - float(max_fraction), column)

    def contains_url(self, column: str, max_fraction: float = 0.0) -> "Check":
        """No more than ``max_fraction`` of rows contain a URL."""
        from .scrub import PII_PATTERNS

        pred = (f"NOT COALESCE(regexp_like({column}, "
                f"'{PII_PATTERNS['url']}'), FALSE)")
        return self.satisfies(pred, f"no_url({column})",
                              1.0 - float(max_fraction), column)

    def are_complete(self, columns, min_fraction: float = 1.0) -> "Check":
        """deequ areComplete: every listed column is non-null in the
        same row for at least ``min_fraction`` of rows."""
        cols = [columns] if isinstance(columns, str) else list(columns)
        pred = " AND ".join(f"{c} IS NOT NULL" for c in cols)
        return self.satisfies(pred, f"complete({','.join(cols)})",
                              min_fraction, cols[0])

    # -- aggregate rules (metric = the aggregate itself) ---------------

    def _agg(self, agg: str, column: str, at_least, at_most) -> "Check":
        if at_least is None and at_most is None:
            raise ValueError(f"{agg}({column}): need at_least and/or at_most")
        if at_least is not None:
            self._rules.append(_Rule("agg", f"{agg}({column})>=", column,
                                     None, agg, ">=", float(at_least)))
        if at_most is not None:
            self._rules.append(_Rule("agg", f"{agg}({column})<=", column,
                                     None, agg, "<=", float(at_most)))
        return self

    def has_min(self, column: str, at_least=None, at_most=None) -> "Check":
        return self._agg("min", column, at_least, at_most)

    def has_max(self, column: str, at_least=None, at_most=None) -> "Check":
        return self._agg("max", column, at_least, at_most)

    def has_mean(self, column: str, at_least=None, at_most=None) -> "Check":
        """Mean computed as sum/count explicitly (identical expression
        shape in the oracle)."""
        return self._agg("mean", column, at_least, at_most)

    def has_sum(self, column: str, at_least=None, at_most=None) -> "Check":
        return self._agg("sum", column, at_least, at_most)

    def has_size(self, at_least=None, at_most=None) -> "Check":
        return self._agg("size", "*", at_least, at_most)

    def has_correlation(self, column_a: str, column_b: str,
                        at_least=None, at_most=None) -> "Check":
        """Pearson correlation of two numeric columns from the SAME
        single-pass aggregate: rows where either side is NULL are
        excluded pairwise (SQL corr semantics), metric =
        (n·Σxy − Σx·Σy) / (√(n·Σxx − Σx²) · √(n·Σyy − Σy²)). The
        one-pass moment formula is engine-consistent (an oracle can
        replay the identical shape); NULL (fail closed) when either
        variance is 0 or no complete pairs exist."""
        if at_least is None and at_most is None:
            raise ValueError(
                f"corr({column_a},{column_b}): need at_least and/or at_most"
            )
        pair = f"corr({column_a},{column_b})"
        if at_least is not None:
            self._rules.append(_Rule("agg", f"{pair}>=", column_a, None,
                                     "corr", ">=", float(at_least), column_b))
        if at_most is not None:
            self._rules.append(_Rule("agg", f"{pair}<=", column_a, None,
                                     "corr", "<=", float(at_most), column_b))
        return self

    def has_standard_deviation(self, column: str,
                               at_least=None, at_most=None) -> "Check":
        """Population standard deviation (deequ's StandardDeviation)
        from one-pass moments over non-null values:
        √(max(Σx²/n − (Σx/n)², 0)). Same single scan."""
        return self._agg("stddev", column, at_least, at_most)

    def has_min_length(self, column: str,
                       at_least=None, at_most=None) -> "Check":
        """min(length(column)) over non-null values (deequ MinLength).
        Codepoint semantics in both engines."""
        return self._agg("min_length", column, at_least, at_most)

    def has_max_length(self, column: str,
                       at_least=None, at_most=None) -> "Check":
        """max(length(column)) over non-null values (deequ MaxLength)."""
        return self._agg("max_length", column, at_least, at_most)

    def has_quantile(self, column: str, q: float,
                     at_least=None, at_most=None) -> "Check":
        """EXACT q-quantile of the non-null values — linear
        interpolation on the sorted sample, the same definition as
        DuckDB's quantile_cont (deequ offers ApproxQuantile; the exact
        form makes the verdict oracle-replayable). NOTE: exact
        percentile buffers each group's values inside the aggregate —
        right for profile/metrics-sized groups; for row-scale
        quantiles at 100 TB use the percentile_approx sketch in
        operators/stats.py."""
        if not 0.0 <= q <= 1.0:
            raise ValueError(f"quantile({column}): q must be in [0,1]")
        if at_least is None and at_most is None:
            raise ValueError(f"quantile({column}): need a bound")
        name = f"quantile({column},{q:g})"
        if at_least is not None:
            self._rules.append(_Rule("agg", f"{name}>=", column, None,
                                     "quantile", ">=", float(at_least),
                                     param=float(q)))
        if at_most is not None:
            self._rules.append(_Rule("agg", f"{name}<=", column, None,
                                     "quantile", "<=", float(at_most),
                                     param=float(q)))
        return self

    # -- frequency-based (grouping) rules -------------------------------

    def has_entropy(self, column: str,
                    at_least=None, at_most=None) -> "Check":
        """Shannon entropy (nats) of the column's value distribution
        over non-null rows: −Σ (c/N)·ln(c/N), computed in the
        order-stable closed form ln(N) − Σ c·ln(c)/N (deequ Entropy).
        Frequency-based: adds one per-value aggregation for this
        column's basis (shared with uniqueness/unique-value-ratio on
        the same column)."""
        return self._agg("entropy", column, at_least, at_most)

    def has_uniqueness(self, column: str, at_least: float) -> "Check":
        """deequ Uniqueness: (#values occurring exactly once) /
        (#non-null rows). Distinct from has_distinctness
        (distinct/total): a column where every value appears twice has
        distinctness 0.5 but uniqueness 0."""
        return self._agg("uniqueness", column, at_least, None)

    def has_unique_value_ratio(self, column: str, at_least: float) -> "Check":
        """deequ UniqueValueRatio: (#values occurring exactly once) /
        (#distinct values)."""
        return self._agg("unique_value_ratio", column, at_least, None)

    def has_top_value_share(self, column: str,
                            at_least=None, at_most=None) -> "Check":
        """Share of the single most frequent non-null value:
        max(count) / (#non-null rows) — the mode-dominance gate a
        histogram assertion usually reduces to (deequ
        hasHistogramValues; e.g. at_most=0.5 ⇒ no value may cover half
        the column). Frequency-based: shares the per-value aggregation
        basis with entropy/uniqueness rules on the same column; exactly
        replayable (MAX(cnt)::DOUBLE / SUM(cnt))."""
        return self._agg("top_value_share", column, at_least, at_most)

    def has_mutual_information(self, column_a: str, column_b: str,
                               at_least=None, at_most=None) -> "Check":
        """Mutual information (nats) of two columns over rows where
        both are non-null: Σ p(x,y)·ln(p(x,y)/(p(x)·p(y))) (deequ
        MutualInformation). Frequency-based on the PAIR basis: one
        aggregation to the distinct (a,b) table, marginals recovered
        with window sums over that small table — never a second scan
        of the input. MI(a,a) equals entropy(a) (pinned in tests)."""
        if at_least is None and at_most is None:
            raise ValueError(
                f"mi({column_a},{column_b}): need at_least and/or at_most"
            )
        pair = f"mi({column_a},{column_b})"
        if at_least is not None:
            self._rules.append(_Rule(
                "agg", f"{pair}>=", column_a, None, "mutual_information",
                ">=", float(at_least), column_b))
        if at_most is not None:
            self._rules.append(_Rule(
                "agg", f"{pair}<=", column_a, None, "mutual_information",
                "<=", float(at_most), column_b))
        return self

    def has_distinctness(self, column: str, at_least: float) -> "Check":
        """count(distinct column) / count(*) — EXACT (plans an Expand,
        still one scan)."""
        return self._agg("distinctness", column, at_least, None)

    def is_unique(self, column: str) -> "Check":
        """Exact uniqueness as distinctness == 1.0. For the violating
        KEYS themselves use operators/uniqueness.py (grouped evidence
        needs its own shuffle by design)."""
        return self.has_distinctness(column, 1.0)

    def is_primary_key(self, columns) -> "Check":
        """deequ isPrimaryKey: metric = (#distinct fully-non-null key
        tuples) / (#rows), which is exactly 1.0 iff the columns form a
        primary key — any NULL in a key column or any duplicate tuple
        drops it strictly below. One countDistinct over a NULL-gated
        struct in the shared single-scan aggregate; exactly replayable
        (COUNT(DISTINCT CASE WHEN all-non-null THEN ROW(...) END)
        / COUNT(*))."""
        cols = [columns] if isinstance(columns, str) else list(columns)
        self._rules.append(_Rule("agg", f"primary_key({','.join(cols)})",
                                 ",".join(cols), None, "primary_key",
                                 ">=", 1.0))
        return self

    def has_approx_count_distinct(self, column: str, at_least=None,
                                  at_most=None, rsd: float = 0.05) -> "Check":
        """deequ hasApproxCountDistinct: HyperLogLog++ cardinality
        estimate with relative standard deviation ``rsd``, in the same
        single-scan aggregate. Sketch-valued — NOT oracle-replayable in
        another engine (use has_distinctness/is_unique for exact gates);
        tolerance-tested against exact cardinality in pytest. Thresholds
        should leave ~3·rsd headroom."""
        if at_least is None and at_most is None:
            raise ValueError(
                f"approx_count_distinct({column}): need at_least/at_most"
            )
        if at_least is not None:
            self._rules.append(_Rule(
                "agg", f"approx_count_distinct({column})>=", column, None,
                "approx_count_distinct", ">=", float(at_least),
                param=float(rsd)))
        if at_most is not None:
            self._rules.append(_Rule(
                "agg", f"approx_count_distinct({column})<=", column, None,
                "approx_count_distinct", "<=", float(at_most),
                param=float(rsd)))
        return self

    # -- compilation ----------------------------------------------------

    def _attach_grouping_metrics(
        self, one: DataFrame, df: DataFrame, group_by: list[str]
    ) -> DataFrame:
        """Compile frequency-based rules: one per-value aggregation per
        distinct basis (column, or column pair for MI) — deequ's
        grouping analyzers, which its runner likewise cannot fuse into
        the scan-sharing pass. The per-group metric rows (|groups|
        rows) are broadcast-left-joined onto the scan-sharing verdict
        row; a group with no usable rows stays NULL ⇒ fails closed."""
        single: dict[str, list[tuple[int, _Rule]]] = {}
        pairs: dict[tuple[str, str], list[tuple[int, _Rule]]] = {}
        for i, r in enumerate(self._rules):
            if r.agg == "mutual_information":
                pairs.setdefault((r.column, r.column2), []).append((i, r))
            elif r.agg in _GROUPING_AGGS:
                single.setdefault(r.column, []).append((i, r))
        if not single and not pairs:
            return one

        def attach(sel: DataFrame) -> DataFrame:
            if group_by:
                return one.join(F.broadcast(sel), on=group_by, how="left")
            k = "__jk"
            return (one.withColumn(k, F.lit(1))
                    .join(F.broadcast(sel.withColumn(k, F.lit(1))),
                          on=k, how="left").drop(k))

        for col, rules in single.items():
            freq = (df.filter(F.col(col).isNotNull())
                    .groupBy(*group_by, col)
                    .agg(F.count(F.lit(1)).cast("double").alias("__c")))
            c = F.col("__c")
            base = freq.groupBy(*group_by).agg(
                F.sum(c).alias("__N"),
                F.count(F.lit(1)).cast("double").alias("__D"),
                F.sum(F.when(c == 1.0, 1.0).otherwise(0.0)).alias("__U"),
                # entropy in the order-stable closed form:
                # −Σ(c/N)ln(c/N) = ln(N) − Σ c·ln(c)/N
                F.sum(c * F.log(c)).alias("__S"),
                F.max(c).alias("__M"),
            )
            N, D, U, S = (F.col("__N"), F.col("__D"),
                          F.col("__U"), F.col("__S"))
            exprs = []
            for i, r in rules:
                if r.agg == "entropy":
                    m = F.when(N > 0, F.log(N) - S / N)
                elif r.agg == "uniqueness":
                    m = F.when(N > 0, U / N)
                elif r.agg == "top_value_share":
                    m = F.when(N > 0, F.col("__M") / N)
                else:  # unique_value_ratio
                    m = F.when(D > 0, U / D)
                exprs.append(m.alias(f"__g{i}"))
            one = attach(base.select(*group_by, *exprs))

        for (a, b), rules in pairs.items():
            jt = (df.filter(F.col(a).isNotNull() & F.col(b).isNotNull())
                  .groupBy(*group_by, a, b)
                  .agg(F.count(F.lit(1)).cast("double").alias("__c")))
            # marginals via window sums over the DISTINCT-pair table —
            # it carries only |distinct (a,b)| rows, never row-scale
            wa = Window.partitionBy(*group_by, a)
            wb = Window.partitionBy(*group_by, b)
            wn = (Window.partitionBy(*group_by) if group_by
                  else Window.partitionBy(F.lit(1)))
            c = F.col("__c")
            jt2 = jt.select(
                *group_by, c.alias("__c"),
                F.sum("__c").over(wa).alias("__ca"),
                F.sum("__c").over(wb).alias("__cb"),
                F.sum("__c").over(wn).alias("__N"),
            )
            term = (F.col("__c") / F.col("__N")) * F.log(
                F.col("__c") * F.col("__N")
                / (F.col("__ca") * F.col("__cb"))
            )
            base = jt2.groupBy(*group_by).agg(F.sum(term).alias("__mi"))
            one = attach(base.select(
                *group_by,
                *[F.col("__mi").alias(f"__g{i}") for i, _ in rules],
            ))
        return one

    def run(self, df: DataFrame, group_by: tuple[str, ...] = ()) -> DataFrame:
        """One verdict row per constraint (× group when ``group_by`` is
        set — per-partition pass/fail, e.g. every source must satisfy
        the rule set independently):
        ``(group..., check, constraint, column, metric, op, threshold,
        passed, n_rows, n_violations)`` — ``n_violations`` is the
        failing-row count for row-predicate rules and -1 for aggregate
        rules (no per-row notion of violation). Grouped or not, the
        whole rule set stays ONE aggregate over ONE scan; grouped runs
        shuffle only the per-group aggregate rows."""
        if not self._rules:
            raise ValueError("Check has no constraints")
        names = [r.name for r in self._rules]
        if len(set(names)) != len(names):
            raise ValueError(f"duplicate constraint names: {names}")
        group_by = list(group_by)

        aggs = self._scan_agg_exprs()
        one = df.groupBy(*group_by).agg(*aggs) if group_by else df.agg(*aggs)
        one = self._attach_grouping_metrics(one, df, group_by)

        n = F.col("__n")
        nd = n.cast("double")
        rows = []
        for i, r in enumerate(self._rules):
            if r.kind == "frac":
                s = F.col(f"__s{i}")
                metric = F.when(n > 0, s.cast("double") / nd)
                nviol = (n - s).cast("bigint")
            elif r.agg == "size":
                metric = nd
                nviol = F.lit(-1).cast("bigint")
            elif r.agg in ("distinctness", "primary_key"):
                metric = F.when(n > 0, F.col(f"__s{i}").cast("double") / nd)
                nviol = F.lit(-1).cast("bigint")
            elif r.agg == "mean":
                c = F.col(f"__c{i}")
                metric = F.when(c > 0, F.col(f"__s{i}") / c.cast("double"))
                nviol = F.lit(-1).cast("bigint")
            elif r.agg == "corr":
                np_, sx = F.col(f"__n{i}"), F.col(f"__x{i}")
                sy = F.col(f"__y{i}")
                vx = np_ * F.col(f"__xx{i}") - sx * sx
                vy = np_ * F.col(f"__yy{i}") - sy * sy
                metric = F.when(
                    (vx > 0) & (vy > 0),
                    (np_ * F.col(f"__xy{i}") - sx * sy)
                    / (F.sqrt(vx) * F.sqrt(vy)),
                )
                nviol = F.lit(-1).cast("bigint")
            elif r.agg == "stddev":
                c = F.col(f"__c{i}")
                sx, sxx = F.col(f"__x{i}"), F.col(f"__xx{i}")
                metric = F.when(
                    c > 0,
                    F.sqrt(F.greatest(sxx / c - (sx / c) * (sx / c),
                                      F.lit(0.0))),
                )
                nviol = F.lit(-1).cast("bigint")
            elif r.agg in _GROUPING_AGGS:
                metric = F.col(f"__g{i}")
                nviol = F.lit(-1).cast("bigint")
            else:
                metric = F.col(f"__s{i}")
                nviol = F.lit(-1).cast("bigint")
            cmp = (metric >= F.lit(r.threshold)) if r.op == ">=" \
                else (metric <= F.lit(r.threshold))
            rows.append(F.struct(
                F.lit(self.name).alias("check"),
                F.lit(r.name).alias("constraint"),
                F.lit(r.column).alias("column"),
                F.round(metric, self.round_dp).alias("metric"),
                F.lit(r.op).alias("op"),
                F.lit(r.threshold).alias("threshold"),
                F.coalesce(cmp, F.lit(False)).alias("passed"),
                n.alias("n_rows"),
                nviol.alias("n_violations"),
            ))
        return one.select(*group_by, F.inline(F.array(*rows)))

    def _scan_agg_exprs(self) -> list[Column]:
        """The scan-sharing aggregate expressions for every non-grouping
        rule, plus the leading ``__n`` row count — one conditional
        aggregate over one scan (shared by ``run`` and ``observe``)."""
        aggs: list[Column] = [F.count(F.lit(1)).cast("bigint").alias("__n")]
        for i, r in enumerate(self._rules):
            if r.agg in _GROUPING_AGGS:
                continue  # compiled separately by run()
            if r.kind == "frac":
                ok = F.coalesce(F.expr(r.predicate), F.lit(False))
                aggs.append(
                    F.coalesce(F.sum(F.when(ok, 1).otherwise(0)), F.lit(0))
                    .cast("bigint").alias(f"__s{i}")
                )
            elif r.agg == "size":
                pass  # reuses __n
            elif r.agg == "distinctness":
                aggs.append(F.countDistinct(F.col(r.column))
                            .cast("bigint").alias(f"__s{i}"))
            elif r.agg == "primary_key":
                cols = [F.col(c) for c in r.column.split(",")]
                cond = cols[0].isNotNull()
                for c in cols[1:]:
                    cond = cond & c.isNotNull()
                # NULL-gated struct: rows with any NULL key column are
                # excluded from the distinct tuple count, so the
                # metric can only reach 1.0 on a complete unique key
                aggs.append(F.countDistinct(F.when(cond, F.struct(*cols)))
                            .cast("bigint").alias(f"__s{i}"))
            elif r.agg == "approx_count_distinct":
                aggs.append(F.approx_count_distinct(F.col(r.column),
                                                    rsd=r.param)
                            .cast("double").alias(f"__s{i}"))
            elif r.agg == "mean":
                # explicit sum + count of non-null values: the oracle
                # replays SUM(col)/COUNT(col), same expression shape
                aggs.append(F.sum(F.col(r.column).cast("double"))
                            .alias(f"__s{i}"))
                aggs.append(F.count(F.col(r.column))
                            .cast("bigint").alias(f"__c{i}"))
            elif r.agg == "corr":
                # pairwise-complete moments for one-pass Pearson
                both = F.col(r.column).isNotNull() & F.col(r.column2).isNotNull()
                x = F.when(both, F.col(r.column).cast("double"))
                y = F.when(both, F.col(r.column2).cast("double"))
                aggs.append(F.count(x).cast("double").alias(f"__n{i}"))
                aggs.append(F.sum(x).alias(f"__x{i}"))
                aggs.append(F.sum(y).alias(f"__y{i}"))
                aggs.append(F.sum(x * x).alias(f"__xx{i}"))
                aggs.append(F.sum(y * y).alias(f"__yy{i}"))
                aggs.append(F.sum(x * y).alias(f"__xy{i}"))
            elif r.agg == "stddev":
                x = F.col(r.column).cast("double")
                aggs.append(F.sum(x).alias(f"__x{i}"))
                aggs.append(F.sum(x * x).alias(f"__xx{i}"))
                aggs.append(F.count(x).cast("double").alias(f"__c{i}"))
            elif r.agg == "quantile":
                aggs.append(F.percentile(F.col(r.column).cast("double"),
                                         F.lit(r.param)).alias(f"__s{i}"))
            elif r.agg in ("min_length", "max_length"):
                fn = F.min if r.agg == "min_length" else F.max
                aggs.append(fn(F.length(F.col(r.column)))
                            .cast("double").alias(f"__s{i}"))
            else:  # min | max | sum
                fn = {"min": F.min, "max": F.max, "sum": F.sum}[r.agg]
                aggs.append(fn(F.col(r.column).cast("double"))
                            .alias(f"__s{i}"))
        return aggs


    #: rules that cannot ride a Spark Observation: CollectMetrics
    #: forbids DISTINCT aggregates, and frequency-based rules need a
    #: second per-value aggregation no observation can express
    _OBSERVE_UNSUPPORTED = frozenset(
        {"distinctness", "primary_key"}) | _GROUPING_AGGS

    def observe(self, df: DataFrame, name: str | None = None):
        """Attach the rule set to ``df`` as a Spark ``Observation`` so
        the metrics are collected DURING the caller's own action — the
        validation rides the write (or any other full materialization)
        for ZERO extra scans, the strongest possible shape at 100 TB
        (``run()`` re-reads the table; this doesn't read it at all).

        Returns ``(instrumented_df, observation)``. Execute any action
        that materializes every row of ``instrumented_df`` (``.write``,
        ``.count()``, ...), then feed ``observation.get`` to
        :meth:`verdicts_from_metrics`.

        Distinct-based rules (``is_unique``/``has_distinctness``/
        ``is_primary_key``) and frequency-based rules (entropy/
        uniqueness/top-share/MI) cannot ride an observation — use
        ``run()`` for those; this raises if any are present.
        """
        from pyspark.sql import Observation

        if not self._rules:
            raise ValueError("Check has no constraints")
        bad = [r.name for r in self._rules
               if r.agg in self._OBSERVE_UNSUPPORTED]
        if bad:
            raise ValueError(
                f"rules not observable (distinct/frequency-based): {bad}; "
                "use run() for these"
            )
        names = [r.name for r in self._rules]
        if len(set(names)) != len(names):
            raise ValueError(f"duplicate constraint names: {names}")
        obs = Observation(name or self.name)
        return df.observe(obs, *self._scan_agg_exprs()), obs

    def verdicts_from_metrics(self, metrics: dict) -> list[dict]:
        """Assemble verdict rows (same fields as ``run()``'s output)
        from an ``Observation.get`` dict on the driver — the aggregated
        metrics are one tiny row, so this is pure Python arithmetic
        mirroring ``run()``'s column expressions (NULL ⇒ fail closed).
        """
        n = metrics["__n"]
        out = []
        for i, r in enumerate(self._rules):
            nviol = -1
            if r.kind == "frac":
                s = metrics[f"__s{i}"] or 0
                metric = (s / n) if n > 0 else None
                nviol = n - s
            elif r.agg == "size":
                metric = float(n)
            elif r.agg == "mean":
                c = metrics[f"__c{i}"]
                metric = (metrics[f"__s{i}"] / c) if c else None
            elif r.agg == "corr":
                np_ = metrics[f"__n{i}"] or 0.0
                sx, sy = metrics[f"__x{i}"], metrics[f"__y{i}"]
                if np_ > 0:
                    vx = np_ * metrics[f"__xx{i}"] - sx * sx
                    vy = np_ * metrics[f"__yy{i}"] - sy * sy
                    metric = (
                        (np_ * metrics[f"__xy{i}"] - sx * sy)
                        / (math.sqrt(vx) * math.sqrt(vy))
                        if vx > 0 and vy > 0 else None
                    )
                else:
                    metric = None
            elif r.agg == "stddev":
                c = metrics[f"__c{i}"]
                if c and c > 0:
                    sx, sxx = metrics[f"__x{i}"], metrics[f"__xx{i}"]
                    metric = math.sqrt(
                        max(sxx / c - (sx / c) * (sx / c), 0.0))
                else:
                    metric = None
            else:  # min | max | sum | quantile | lengths | approx_cd
                metric = metrics[f"__s{i}"]
                metric = float(metric) if metric is not None else None
            if metric is None:
                passed = False
            elif r.op == ">=":
                passed = metric >= r.threshold
            else:
                passed = metric <= r.threshold
            out.append({
                "check": self.name,
                "constraint": r.name,
                "column": r.column,
                "metric": (_spark_round(float(metric), self.round_dp)
                           if metric is not None else None),
                "op": r.op,
                "threshold": r.threshold,
                "passed": bool(passed),
                "n_rows": int(n),
                "n_violations": int(nviol),
            })
        return out
