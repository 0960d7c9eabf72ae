"""Operation mixes of the three workloads.

An operation is identified by a ``key`` that names it together with its
parameters; expected outputs are recorded per key. The seed chooses only
the order of a pass and, for operations with variants, which variant runs;
variants of one operation are of about equal cost, so every pass does the
same amount of work whatever the seed.
"""

from __future__ import annotations

import json
import random
from dataclasses import dataclass, field
from typing import Callable, Optional

API = "/api/v1/finops"
SQL = f"{API}/sql/query"

#: rows the SQL endpoint may return at most (api/handlers.MAX_LIMIT)
MAX_LIMIT = 10_000


@dataclass(frozen=True)
class Op:
    """One request (``method`` + ``path`` + ``body``) or one batch call."""

    key: str
    kind: str  # "http" | "artifact" | "row"
    method: str = "GET"
    path: str = ""
    body: Optional[dict] = None
    #: the status a correct program answers with
    expect_status: int = 200


@dataclass
class Defect:
    """A known defect: the op fails today; ``fixed`` tells whether a
    response shows the correct behaviour (no digest is ever recorded for
    the defective output)."""

    what: str
    fixed: Callable[[int, object], bool] = field(repr=False)
    #: keys that hold the defective part of an otherwise checked response;
    #: the rest is compared with a digest that leaves them out
    mask: frozenset = frozenset()


def _get(route: str, **params) -> Op:
    query = "&".join(f"{k}={v}" for k, v in sorted(params.items()))
    path = f"{API}/{route}" + (f"?{query}" if query else "")
    return Op(key=f"GET {path}", kind="http", path=path)


def _post(route: str, body: dict) -> Op:
    path = f"{API}/{route}"
    return Op(
        key=f"POST {path} {json.dumps(body, sort_keys=True)}",
        kind="http", method="POST", path=path, body=body,
    )


def _sql(name: str, sql: str, expect_status: int = 200, **extra) -> Op:
    body = {"sql": " ".join(sql.split()), **extra}
    return Op(
        key=f"sql:{name}:{json.dumps(body, sort_keys=True)}",
        kind="http", method="POST", path=SQL, body=body,
        expect_status=expect_status,
    )


# --------------------------------------------------------------------- #
# dashboard: every Spark-backed route outside /sql/*                     #
# --------------------------------------------------------------------- #
#: the four roll-up routes; each evaluates the whole virtual KPI chain
#: (16-46 Spark jobs) and takes seconds, where the others take 0.1-0.5 s
KPI_ROUTES = [
    [_get("kpi/summary")],
    [_get("kpi/health-check")],
    [_get("kpi/executive-summary")],
    [_get("kpi/dashboard-data")],
]

OTHER_ROUTES = [
    [_get("spend/invoice/summary", months_back=m) for m in (6, 12)],
    [_get("spend/regions/top", limit=n) for n in (3, 10)],
    [_get("spend/services/top", limit=n) for n in (5, 10)],
    [_get("spend/breakdown", dimensions=d) for d in ("region", "service")],
    [_get("optimization/idle-resources", utilization_threshold=t)
     for t in (5.0, 10.0)],
    [_get("optimization/rightsizing")],
    [_get("optimization/cross-service-migration")],
    [_get("optimization/vpc-charges")],
    [_get("allocation/account-hierarchy")],
    [_get("allocation/tagging-compliance")],
    [_get("allocation/cost-center-breakdown")],
    [_get("discounts/current-agreements")],
    [_get("discounts/negotiation-opportunities", min_spend=s)
     for s in (1000.0, 10000.0)],
    [_get("discounts/usage-forecasting", forecast_months=m) for m in (6, 12)],
    [_post("discounts/commitment-planning",
           {"commitment_amount": a, "term_years": 3}) for a in (50000, 100000)],
    [_get("ai/anomaly-detection", sensitivity=s) for s in (2.0, 3.0)],
    [_get("ai/optimization-insights")],
    [_CUSTOM_ANALYSIS := _post("ai/custom-analysis",
                               {"query": "Which services are the most expensive?"})],
    [_get("ai/forecasting", forecast_months=m) for m in (3, 6)],
    [_post("mcp/query", {"query": q}) for q in (
        "Show me my cost breakdown by service",
        "Summarize my costs by service",
    )],
]

#: times each of the fast routes runs in a dashboard pass: with 4 KPI
#: samples and 60 fast ones, the 11th-largest latency is a real tail of the
#: fast cluster, well apart from its median (README: percentile ranks)
FAST_REPEATS = 3


# --------------------------------------------------------------------- #
# adhoc_sql: the guarded SQL endpoint                                    #
# --------------------------------------------------------------------- #
_REGIONS = ("us-east-1", "us-west-2", "eu-west-1")
_FETCH_COLS = (
    "billing_period, line_item_usage_account_id, line_item_product_code, "
    "line_item_usage_type, product_region, line_item_usage_amount, "
    "line_item_unblended_cost"
)


def _fetch(name: str, region: str, **extra) -> Op:
    # ORDER BY every selected column: the capped subset is the same rows
    # whatever the file layout
    return _sql(
        name,
        f"SELECT {_FETCH_COLS} FROM CUR WHERE product_region = '{region}' "
        f"ORDER BY line_item_unblended_cost DESC, {_FETCH_COLS}",
        **extra,
    )


ADHOC_MIX = [
    # small aggregates
    [_sql("agg_top_services",
          "SELECT product_servicecode, SUM(line_item_unblended_cost) AS total_cost "
          f"FROM CUR WHERE product_region = '{r}' GROUP BY 1 "
          "ORDER BY total_cost DESC LIMIT 5") for r in _REGIONS],
    [_sql("agg_line_item_types",
          "SELECT line_item_line_item_type, COUNT(*) AS n, "
          "SUM(line_item_unblended_cost) AS cost FROM CUR "
          f"WHERE product_region = '{r}' GROUP BY 1 ORDER BY 1") for r in _REGIONS],
    [_sql("agg_account_region",
          "SELECT line_item_usage_account_id, product_region, "
          "SUM(line_item_unblended_cost) AS cost FROM CUR "
          f"WHERE bill_payer_account_id = '{p}' GROUP BY 1, 2 ORDER BY 1, 2")
     for p in ("payer_0", "payer_1")],
    # LAG window over an aggregate
    [_sql("lag_monthly",
          "SELECT billing_period, SUM(line_item_unblended_cost) AS monthly_cost, "
          "ROUND((SUM(line_item_unblended_cost) - LAG(SUM(line_item_unblended_cost)) "
          "OVER (ORDER BY billing_period)) / NULLIF(LAG(SUM(line_item_unblended_cost)) "
          "OVER (ORDER BY billing_period), 0) * 100, 2) AS pct_change FROM CUR "
          f"WHERE product_region = '{r}' GROUP BY billing_period "
          "ORDER BY billing_period") for r in _REGIONS],
    # CTE + CROSS JOIN + RANK
    [_sql("cte_cross_join_rank",
          "WITH totals AS (SELECT SUM(line_item_unblended_cost) AS grand_total "
          f"FROM CUR WHERE product_region = '{r}'), by_service AS ("
          "SELECT product_servicecode, SUM(line_item_unblended_cost) AS svc_cost "
          f"FROM CUR WHERE product_region = '{r}' GROUP BY 1) "
          "SELECT s.product_servicecode, s.svc_cost, "
          "ROUND(s.svc_cost / t.grand_total * 100, 2) AS pct, "
          "RANK() OVER (ORDER BY s.svc_cost DESC) AS rnk "
          "FROM by_service s CROSS JOIN totals t ORDER BY rnk, 1") for r in _REGIONS],
    # the pre-aggregated KPI view, three times a pass: tail_ms then falls
    # in the middle of its cluster (README: percentile ranks)
    *[[_sql("summary_view",
            "SELECT * FROM summary_view "
            f"WHERE payer_account_id = '{p}' "
            "ORDER BY billing_period, linked_account_id")
       for p in ("payer_0", "payer_1")]] * 3,
    # wide fetches: default 1,000-row cap as JSON and CSV, then 10,000 rows
    [_fetch("fetch_json", r) for r in _REGIONS],
    [_fetch("fetch_csv", r, format="csv") for r in _REGIONS],
    [_fetch("fetch_10k", r, limit=MAX_LIMIT) for r in _REGIONS],
    # over the cap: a known defect (the LIMIT in the text bypasses the cap)
    [_OVER_CAP := _sql("over_cap_limit", "SELECT * FROM CUR LIMIT 50000")],
    # rejected statements: a 400 is the correct answer
    [_sql("reject_drop", "DROP TABLE CUR", expect_status=400)],
    [_sql("reject_insert", "INSERT INTO CUR SELECT * FROM CUR", expect_status=400)],
    [_sql("reject_create", "CREATE TABLE t AS SELECT 1", expect_status=400)],
    [_sql("reject_set", "SET spark.sql.shuffle.partitions=1", expect_status=400)],
    [_sql("reject_syntax", "SELEC * FROM CUR", expect_status=400)],
    [Op(key=f"GET {API}/sql/schema", kind="http", path=f"{API}/sql/schema")],
    [Op(key=f"GET {API}/sql/tables", kind="http", path=f"{API}/sql/tables")],
]

#: untimed probes of known defects, once per adhoc_sql run
REGEX_BYPASS = _sql(
    "probe_regex_bypass",
    # the word 'limit' inside a string literal satisfies the endpoint's
    # LIMIT regex, so no cap is applied; one column keeps the probe cheap
    "SELECT line_item_line_item_type FROM CUR "
    "WHERE line_item_line_item_type <> 'limit'",
)
FRESH_SUMMARY_VIEW = _sql(
    "probe_fresh_summary_view", "SELECT COUNT(*) AS n FROM summary_view"
)


def _capped(status: int, body) -> bool:
    if status == 400:
        return True  # refusing an over-cap request is also correct
    if not _ok(status, body):
        return False
    rows = body.get("row_count", 0)
    applied = body.get("query_metadata", {}).get("limit_applied")
    return rows <= MAX_LIMIT and (applied is None or rows <= applied <= MAX_LIMIT)


def _ok(status: int, body) -> bool:
    return status == 200 and isinstance(body, dict)


def _agreements(value):
    if isinstance(value, dict):
        if "agreement_id" in value and "service" in value:
            yield value
        for v in value.values():
            yield from _agreements(v)
    elif isinstance(value, list):
        for v in value:
            yield from _agreements(v)


def _unsalted(status: int, body) -> bool:
    """False while agreement ids carry Python's per-process salted
    ``hash()`` of their service. The server runs in this process, so it
    shares the salt."""
    if not _ok(status, body):
        return False
    found = list(_agreements(body))
    return not found or not all(
        a["agreement_id"].endswith(f"-{hash(a['service']) % 1000}") for a in found)


_SALTED = frozenset({"agreement_id", "utilization_rate", "coverage_percentage",
                     "average_utilization", "avg_utilization"})
_SALTED_WHAT = ("agreement ids and utilization come from Python's salted hash(), "
                "so they differ from one server process to the next")

KNOWN_DEFECTS: dict[str, Defect] = {
    _get("discounts/current-agreements").key: Defect(_SALTED_WHAT, _unsalted, _SALTED),
    _get("kpi/dashboard-data").key: Defect(_SALTED_WHAT, _unsalted, _SALTED),
    _get("optimization/vpc-charges").key: Defect(
        "vpc-charges reads product_location, which the CUR lacks: HTTP 500",
        _ok),
    _CUSTOM_ANALYSIS.key: Defect(
        "the handler passes focus= to analyze_custom_query, which has no "
        "such parameter: HTTP 422 on every call", _ok),
    _OVER_CAP.key: Defect(
        "a LIMIT in the text bypasses MAX_LIMIT: 50,000 rows returned "
        "with limit_applied 1000", _capped),
    REGEX_BYPASS.key: Defect(
        "'limit' inside a string literal disables the row cap: the whole "
        "CUR is returned", _capped),
    FRESH_SUMMARY_VIEW.key: Defect(
        "summary_view is advertised by the SQL endpoint but only exists "
        "after a KPI route has run: HTTP 400 on a fresh server", _ok),
}


# --------------------------------------------------------------------- #
# batch: artifact builds, then their consumer rows                       #
# --------------------------------------------------------------------- #
ARTIFACTS = (
    "kpi_views", "dedup_pair_graph", "dedup_components", "ivf_index",
    "pq_codebooks", "quantile_probe",
)
ROWS = (
    "kpi_view_tracker", "kpi_view_summary", "kpi_view_instance_all",
    "dedup_ngram_jaccard", "dedup_simhash_hamming", "median_abs_deviation",
    "finops_line_item_types", "finops_amortized_ladder", "finops_kpi_spine",
    "finops_spend_mom", "finops_idle_detection", "finops_rightsizing",
    "finops_negotiation_tiers", "finops_tag_compliance",
)


@dataclass(frozen=True)
class Workload:
    name: str
    #: data scale the workload reads
    scale: str
    #: nominal seconds of one timed pass on a 4-core host; ``--seconds``
    #: is turned into a whole number of passes with it
    pass_seconds: float
    #: untimed passes over every request shape before the timed phase
    warmup_passes: int = 1

    def passes(self, seconds: float) -> int:
        return max(1, round(seconds / self.pass_seconds))

    def pass_groups(self) -> list[list[Op]]:
        """Each group is one slot of a pass; the seed picks its variant."""
        if self.name == "dashboard":
            return KPI_ROUTES + OTHER_ROUTES * FAST_REPEATS
        if self.name == "adhoc_sql":
            return ADHOC_MIX
        return [[Op(key=f"artifact:{a}", kind="artifact")] for a in ARTIFACTS] + [
            [Op(key=f"row:{r}", kind="row")] for r in ROWS
        ]

    def distinct_groups(self) -> list[list[Op]]:
        """The slots of a pass with repeats left out: one per request shape
        (what the warm-up runs)."""
        return list({id(g): g for g in self.pass_groups()}.values())

    def all_ops(self) -> list[Op]:
        """Every distinct op of the workload (what ``--record`` runs)."""
        seen: dict[str, Op] = {}
        for group in self.pass_groups():
            for op in group:
                seen.setdefault(op.key, op)
        return list(seen.values())

    def schedule(self, seed: int, passes: int) -> list[Op]:
        """The timed ops: ``passes`` passes of the same order.

        The seed picks each slot's variant and rotates the fixed slot order
        (batch: only its consumer rows, which follow the artifacts). A
        rotation keeps every op's neighbours, so caches that see the pass
        in order -- Spark's code-generation cache above all -- meet the same
        access pattern whatever the seed."""
        rng = random.Random(seed)
        groups = self.pass_groups()
        head = len(ARTIFACTS) if self.name == "batch" else 0
        shift = rng.randrange(len(groups) - head)
        ops: list[Op] = []
        for _ in range(passes):
            picked = [rng.choice(group) for group in groups]
            rest = picked[head:]
            ops += picked[:head] + rest[shift:] + rest[:shift]
        return ops


WORKLOADS = {
    w.name: w
    for w in (
        Workload("dashboard", scale="sf0.01", pass_seconds=17.0),
        Workload("adhoc_sql", scale="sf0.1", pass_seconds=4.0, warmup_passes=2),
        Workload("batch", scale="sf0.1", pass_seconds=38.0),
    )
}
