"""robots.txt rule enforcement.

The reference documents robots handling as a spider concern
(/root/reference/boris/doc/api.scrbl:18-19) but ships no implementation; the
north rule requires it, so the engine defines the semantics:

- a rules table ``(host, rule_type, path)`` — Allow + Disallow, with
  RFC 9309 §2.2.3 wildcards: ``*`` matches any character run, a trailing
  ``$`` anchors the end;
- decision per URL (§2.2.2): the matching rule with the longest path wins,
  Allow wins length ties, no match → allowed;
- blocked URLs are recorded in the seen set with ``status=999`` and an empty
  body, so traversal continues deterministically (selectors over the empty
  body return [] and the branch prunes) and the frontier cannot stall on
  them.

Enforcement is a broadcast join on host + JVM-side ``LIKE ... ESCAPE``
(rule paths compile to LIKE patterns once, on the broadcast side) — rules
tables are small relative to the frontier, and the match stays in
whole-stage codegen; a plain prefix rule compiles to ``prefix%``, the
pre-wildcard fast path. The oracle mirrors the same semantics via
:class:`RobotsSnapshotFetcher` (:func:`robots_decision` is the pure-Python
reference matcher; tests pin LIKE == decision on fuzzed rule/url
populations) so parity is testable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..oracle.interpreter import SnapshotFetcher

ROBOTS_STATUS = 999


def robots_rules_df(spark: SparkSession, rules: list[tuple]) -> DataFrame:
    """Rules list → the engine's rules table ``(host, rule_type, path)``.
    2-tuples ``(host, path)`` are Disallow rules (the legacy prefix form);
    3-tuples are ``(host, rule_type, path)``."""
    full = [
        (r[0], "disallow", r[1]) if len(r) == 2 else tuple(r) for r in rules
    ]
    return spark.createDataFrame(full, "host string, rule_type string, path string")


def split_blocked(urls: DataFrame, rules: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Partition candidate URLs into (allowed, blocked) under *rules* with
    full RFC 9309 §2.2.2 semantics: Allow + Disallow, ``*`` wildcards and
    trailing-``$`` anchors in rule paths, longest-rule-wins precedence with
    Allow winning length ties; no matching rule → allowed.

    *urls* must carry (url_canon, host); *rules* is ``(host, rule_type,
    path)`` (``robots_rules_df`` builds it). One broadcast join; the big
    side is scanned once, and every rule evaluates as a codegen'd ``LIKE
    ... ESCAPE``, never a regex or Python — a plain prefix rule compiles
    to ``prefix%``, which keeps the pre-wildcard fast path
    byte-identical."""
    # rule path → the LIKE pattern with identical semantics, built
    # JVM-side: strip a trailing '$' (anchor), escape LIKE metacharacters,
    # '*' → '%', and append '%' when unanchored
    anchored = F.endswith(F.col("path"), F.lit("$"))
    base = F.when(
        anchored, F.expr("substring(path, 1, length(path) - 1)")
    ).otherwise(F.col("path"))
    esc = F.replace(
        F.replace(
            F.replace(base, F.lit("\\"), F.lit("\\\\")),
            F.lit("%"), F.lit("\\%"),
        ),
        F.lit("_"), F.lit("\\_"),
    )
    pat = F.replace(esc, F.lit("*"), F.lit("%"))
    rules = rules.where(F.col("path") != "").select(
        "host",
        F.when(anchored, pat).otherwise(F.concat(pat, F.lit("%")))
        .alias("_pat"),
        # precedence: longest rule path wins, Allow wins ties
        (
            F.length("path") * 2
            + F.when(F.col("rule_type") == "allow", 1).otherwise(0)
        ).alias("_score"),
    )
    # path+query+fragment = canonical url minus "scheme://host"
    hit = (
        urls.withColumn(
            "_pqf",
            F.expr(
                "substring(url_canon, instr(url_canon, '://') + 3 + length(host))"
            ),
        )
        .join(F.broadcast(rules), "host", "left")
        .withColumn(
            "_s",
            F.when(
                F.col("_pat").isNotNull()
                & F.expr("_pqf LIKE _pat ESCAPE '\\\\'"),
                F.col("_score"),
            ),
        )
        .groupBy(*urls.columns)
        .agg(F.max("_s").alias("_s"))
    )
    blocked_p = F.col("_s").isNotNull() & (F.col("_s") % 2 == 0)
    allowed = hit.where(~blocked_p).drop("_s")
    blocked = hit.where(blocked_p).drop("_s")
    return allowed, blocked


def parse_robots_rules(text: str, agent: str = "*") -> list[tuple[str, str]]:
    """Parse a robots.txt body into the ``(rule_type, path)`` rules that
    apply to *agent* — rule_type in {'allow', 'disallow'} — the RFC 9309
    grammar the rules table consumes:

    - groups = consecutive ``User-agent`` lines followed by their rules;
    - the most specific matching group wins: an exact (case-insensitive)
      agent token beats ``*``; with several same-specificity groups their
      rules merge (RFC 9309 §2.2.1);
    - ``Allow``/``Disallow`` with an empty value carry no rule;
    - rule paths may use ``*`` (any char run) and a trailing ``$`` (end
      anchor) — matching/precedence live in :func:`robots_decision` /
      :func:`split_blocked` (longest rule wins, Allow wins ties,
      RFC 9309 §2.2.2);
    - ``#`` comments and unknown directives are skipped.
    """
    groups = _parse_groups(text)
    agent = agent.lower()
    if any(agent in agents for agents, _, _ in groups):
        return [r for agents, rules, _ in groups if agent in agents for r in rules]
    return [r for agents, rules, _ in groups if "*" in agents for r in rules]


def parse_robots(text: str, agent: str = "*") -> list[str]:
    """The Disallow paths that apply to *agent* (the legacy prefix-rules
    view of :func:`parse_robots_rules`)."""
    return [p for t, p in parse_robots_rules(text, agent) if t == "disallow"]


def _rule_regex(path: str):
    import re

    anchored = path.endswith("$")
    if anchored:
        path = path[:-1]
    pat = ".*".join(re.escape(seg) for seg in path.split("*"))
    return re.compile("^" + pat + ("$" if anchored else ""))


def robots_decision(rules: list[tuple[str, str]], pqf: str) -> bool:
    """True iff *pqf* (path+query+fragment) is allowed under *rules*
    (``(rule_type, path)`` pairs): the matching rule with the longest
    path wins; on a length tie Allow wins; no match → allowed
    (RFC 9309 §2.2.2). The pure-Python reference matcher — the engine's
    LIKE-based :func:`split_blocked` is pinned against it by tests."""
    best: tuple[int, int] | None = None
    for t, path in rules:
        if not path:
            continue
        if _rule_regex(path).match(pqf):
            key = (len(path), 1 if t == "allow" else 0)
            if best is None or key > best:
                best = key
    return best is None or best[1] == 1


def parse_crawl_delay(text: str, agent: str = "*") -> float | None:
    """The ``Crawl-delay`` (seconds) of the group that applies to *agent*
    (same group-selection rule as :func:`parse_robots`); None if absent."""
    groups = _parse_groups(text)
    agent = agent.lower()
    pools = (
        [g for g in groups if agent in g[0]]
        if any(agent in g[0] for g in groups)
        else [g for g in groups if "*" in g[0]]
    )
    delays = [d for _, _, d in pools if d is not None]
    return min(delays) if delays else None


def _parse_groups(
    text: str,
) -> list[tuple[list[str], list[tuple[str, str]], float | None]]:
    """robots.txt → [(agent tokens, [(rule_type, path)], crawl-delay)]."""
    groups: list[tuple[list[str], list[tuple[str, str]], float | None]] = []
    cur_agents: list[str] = []
    cur_rules: list[tuple[str, str]] = []
    cur_delay: float | None = None
    in_rules = False

    def flush():
        nonlocal cur_agents, cur_rules, cur_delay
        if cur_agents:
            groups.append((cur_agents, cur_rules, cur_delay))
        cur_agents, cur_rules, cur_delay = [], [], None

    for raw in text.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, _, value = line.partition(":")
        key = key.strip().lower()
        value = value.strip()
        if key == "user-agent":
            if in_rules:
                flush()
                in_rules = False
            cur_agents.append(value.lower())
        elif key in ("disallow", "allow"):
            in_rules = True
            if value:
                cur_rules.append((key, value))
        elif key == "crawl-delay":
            in_rules = True
            try:
                cur_delay = float(value)
            except ValueError:
                pass
        elif key == "sitemap":
            in_rules = True  # rule line: terminates the user-agent run
    flush()
    return groups


_LINE_BOUNDARY_RE = (
    # str.splitlines()'s boundary set, as a regex (parity with the loop
    # parser on CRLF / CR / unicode line breaks)
    "\\r\\n|[\\n\\r\\x0b\\x0c\\x1c\\x1d\\x1e\\x85\\u2028\\u2029]"
)
_ROBOTS_KEYS = ["user-agent", "disallow", "crawl-delay", "allow", "sitemap"]


def robots_frames(keys, bodies, agent: str = "*"):
    """Vectorized robots.txt parse over a BATCH of files: pandas ``.str``
    ops end-to-end (no per-row Python loop) — the form a 10^8-host crawl
    needs, where every host contributes one body per refresh and the parse
    itself is batch work. Implements exactly :func:`_parse_groups` +
    the group-selection rule of :func:`parse_robots` /
    :func:`parse_crawl_delay`; the loop parser stays as the oracle and
    tests/test_warc.py pins frame-vs-loop equality on golden + adversarial
    bodies.

    *keys* identifies each file (host, orderkey, …); returns
    ``(rules, delays)``: pandas frames ``(key, rule_type, path)`` — rule
    order preserved within each file, rule_type in {'allow', 'disallow'} —
    and ``(key, delay)`` with one row per file that has an applicable
    Crawl-delay.
    """
    import numpy as np
    import pandas as pd

    agent = agent.lower()
    keys = pd.Series(list(keys), name="key")
    body = pd.Series(
        [b if isinstance(b, str) else "" for b in bodies], name="body"
    )
    empty_rules = pd.DataFrame({"key": keys[:0], "rule_type": [], "path": []})
    empty_delays = pd.DataFrame({"key": keys[:0], "delay": []})
    if len(keys) == 0:
        return empty_rules, empty_delays

    # 1. explode to (file id, line); strip comments + whitespace
    lines = (
        pd.DataFrame({"hid": np.arange(len(keys)), "line": body})
        .assign(line=lambda d: d["line"].str.split(_LINE_BOUNDARY_RE, regex=True))
        .explode("line", ignore_index=True)
    )
    ln = lines["line"].fillna("").str.split("#", n=1).str[0].str.strip()
    # 2. key:value split; keep only grammar directives
    has_colon = ln.str.contains(":", regex=False)
    part = ln.str.partition(":")
    key = part[0].str.strip().str.lower()
    value = part[2].str.strip()
    keep = (has_colon & key.isin(_ROBOTS_KEYS)).to_numpy()
    f = pd.DataFrame({
        "hid": lines["hid"].to_numpy()[keep],
        "key": key.to_numpy()[keep],
        "value": value.to_numpy()[keep],
    })
    if not len(f):
        return empty_rules, empty_delays
    # 3. group segmentation: a group = one consecutive run of User-agent
    #    lines + the rule lines after it; gid = cumulative count of
    #    run-starts per file. Rule lines before any User-agent (gid 0) are
    #    dropped — the loop parser's `if cur_agents` flush guard.
    is_ua = f["key"].eq("user-agent")
    run_start = is_ua & ~is_ua.groupby(f["hid"]).shift(fill_value=False)
    f["gid"] = run_start.groupby(f["hid"]).cumsum()
    f = f[f["gid"] > 0]
    if not len(f):
        return empty_rules, empty_delays
    # 4. group selection: exact agent token beats '*'; same-specificity
    #    groups merge
    is_ua = f["key"].eq("user-agent")
    v_low = f["value"].str.lower()
    f["is_exact"] = is_ua & v_low.eq(agent)
    f["is_star"] = is_ua & v_low.eq("*")
    flags = f.groupby(["hid", "gid"])[["is_exact", "is_star"]].max()
    any_exact = flags.groupby("hid")["is_exact"].transform("max")
    flags = flags.assign(
        selected=np.where(any_exact, flags["is_exact"], flags["is_star"])
    )
    sel = flags[flags["selected"]].reset_index()[["hid", "gid"]]
    # 5. rules: non-empty Allow/Disallow values of selected groups, file
    #    order preserved (the original index survives the merge sort)
    dis = f[f["key"].isin(("allow", "disallow")) & f["value"].ne("")]
    dis = dis.merge(sel, on=["hid", "gid"])
    rules = pd.DataFrame({
        "key": keys.to_numpy()[dis["hid"].to_numpy()],
        "rule_type": dis["key"].to_numpy(),
        "path": dis["value"].to_numpy(),
    })
    # 6. delays: last float-parsable Crawl-delay per group (invalid values
    #    leave the previous one standing), min across selected groups
    cd = f[f["key"].eq("crawl-delay")].copy()
    cd["delay"] = pd.to_numeric(cd["value"], errors="coerce")
    cd = cd.dropna(subset=["delay"])
    last = cd.groupby(["hid", "gid"])["delay"].last().reset_index()
    last = last.merge(sel, on=["hid", "gid"])
    per_host = last.groupby("hid")["delay"].min().reset_index()
    delays = pd.DataFrame({
        "key": keys.to_numpy()[per_host["hid"].to_numpy()],
        "delay": per_host["delay"].to_numpy(),
    })
    return rules, delays


def host_budgets_from_robots(
    spark: SparkSession,
    robots_df: DataFrame,
    agent: str = "*",
    round_seconds: float = 60.0,
    min_budget: int = 1,
) -> DataFrame:
    """Crawl-delay → the engine's per-host politeness budgets table
    ``(host, budget)``: a host asking for a d-second delay gets at most
    ``round_seconds / d`` fetches per crawl round (the round is the
    engine's scheduling quantum). Hosts without a Crawl-delay are absent —
    they fall back to the global ``politeness_k``.

    The result is aggregated to ONE row per host (min budget wins — the
    most conservative delay, matching submit_crawl's union-dedup rule).
    Duplicate host rows in *robots_df* (refetched robots.txt, multiple
    snapshots) would otherwise row-multiply every unseen URL of that host
    through the politeness stage's broadcast left join."""

    def parse(batches):
        import pandas as pd

        for pdf in batches:
            _, delays = robots_frames(pdf["host"], pdf["body"], agent)
            d = delays[delays["delay"] > 0]
            budget = (
                (round_seconds / d["delay"]).astype(int).clip(lower=min_budget)
            )
            yield pd.DataFrame({
                "host": d["key"].to_numpy(), "budget": budget.to_numpy()
            }, columns=["host", "budget"]).astype(
                {"host": "object", "budget": "int64"}
            )

    return (
        robots_df.select("host", "body")
        .mapInPandas(parse, "host string, budget int")
        .groupBy("host")
        .agg(F.min("budget").alias("budget"))
    )


def robots_rules_from_pages(
    spark: SparkSession, robots_df: DataFrame, agent: str = "*"
) -> DataFrame:
    """(host, body) rows of fetched /robots.txt files → the engine's rules
    table ``(host, rule_type, path)`` (Allow + Disallow, wildcard paths).
    Parse runs distributed in Arrow batches — vectorized pandas str ops via
    :func:`robots_frames`, no per-row Python — and the result is the
    (small) broadcast side of split_blocked."""

    def parse(batches):
        import pandas as pd  # noqa: F401

        for pdf in batches:
            rules, _ = robots_frames(pdf["host"], pdf["body"], agent)
            yield rules.rename(columns={"key": "host"})

    return robots_df.select("host", "body").mapInPandas(
        parse, "host string, rule_type string, path string"
    )


class RobotsSnapshotFetcher(SnapshotFetcher):
    """Oracle-side mirror: blocked URLs yield (999, ""). Rules are
    ``(host, path)`` Disallow pairs or ``(host, rule_type, path)`` triples;
    the decision is :func:`robots_decision` — the same RFC 9309 §2.2.2
    longest-match/Allow-wins semantics the engine's split_blocked
    implements with LIKE patterns, so engine-vs-oracle parity covers the
    wildcard grammar too."""

    def __init__(self, pages: dict[str, str], rules: list[tuple]):
        super().__init__(pages)
        self.rules = [
            (r[0], "disallow", r[1]) if len(r) == 2 else tuple(r)
            for r in rules
        ]

    def fetch(self, url_canon: str, method: str = "GET", form_data=None,
              url_full: str | None = None, jar=None):
        rest = url_canon.split("://", 1)[-1]
        host, _, pqf = rest.partition("/")
        pqf = "/" + pqf
        host_rules = [(t, p) for rhost, t, p in self.rules if rhost == host]
        if host_rules and not robots_decision(host_rules, pqf):
            return (ROBOTS_STATUS, "")
        return super().fetch(url_canon, method, form_data, url_full)


def budgets_from_latency(
    stats_df: DataFrame,
    target_p95_s: float = 1.0,
    base_budget: int = 100,
    min_budget: int = 1,
) -> DataFrame:
    """Fetch-latency SLO feedback → per-host politeness budgets: a host
    whose measured p95 latency exceeds the target is throttling us (or
    collapsing under us), so its per-round budget shrinks proportionally —
    ``budget = clamp(base · target/p95, min, base)``. The producer side is
    the host_latency_quantiles rollup (ops/queries.py) over the fetch log;
    the output (host, budget) frame feeds ``CrawlEngine(host_budgets=…)``
    exactly like :func:`host_budgets_from_robots` — the two compose by
    union + groupBy-min (most conservative wins), the same rule
    submit_crawl applies.

    Scale shape: a pure projection over the (already host-aggregated, so
    slim) stats frame — no shuffle; the engine broadcasts the result into
    the politeness stage's left join."""
    budget = F.floor(
        F.lit(float(base_budget)) * F.lit(float(target_p95_s)) / F.col("p95")
    ).cast("int")
    # p95 NULL or <= 0 (coarse clocks, empty rollups) must mean "no evidence
    # of slowness" → base_budget; the naive formula NULLs out and greatest()
    # would then hand the *fastest* host the harshest throttle.
    clamped = F.when(
        F.col("p95").isNotNull() & (F.col("p95") > 0),
        F.least(F.lit(base_budget), F.greatest(F.lit(min_budget), budget)),
    ).otherwise(F.lit(base_budget))
    return stats_df.select("host", clamped.alias("budget"))
