"""robots.txt → the engine's ROBOTS rules table, declaratively.

The crawl honors robots through `apply_robots`' per-domain prefix rules
(operators/scheduling.py); this module closes the loop from the raw
fetched `robots.txt` bodies to that table, so a live crawl is:

    frontier domains → fetch https://<domain>/robots.txt
      → parse_robots(bodies) → rules table → apply_robots gate

The parse is ENTIRELY JVM-side — split/posexplode/regexp for the line
grammar and two window passes for the sequential group structure; no
Python touches a byte.  Per-domain windows are bounded by the robots
body size (KB — a few thousand lines at worst), so a million domains
parallelize across partitions while each window partition stays tiny:
the same bounded-window discipline as the politeness top-k.

Grammar subset (documented, mirrored by the pure-python twin used in
tests):
  * lines `Key: value`, case-insensitive keys, `#` comments stripped,
    CRLF and BOM tolerated;
  * group = a run of consecutive `User-agent` lines followed by its
    rules; rules before any User-agent line are ignored (RFC 9309 §2.1);
  * group selection per RFC 9309 §2.2.1: if any group names our agent
    (exact, case-insensitive), those groups apply and `*` groups are
    ignored; otherwise the `*` groups apply;
  * the engine's matcher (apply_robots) is longest-literal-prefix, so
    `Allow`/`Disallow` values normalize to literal prefixes with a
    FAIL-CLOSED bias (RFC 9309 §2.2.3 makes `*`/`$` mandatory; a crawler
    that drops a Disallow open is a politeness regression):
      - `Disallow` values truncate at the first `*`/`$` and keep the
        literal prefix as the rule (conservative over-blocking:
        `/private*` → `/private`, `*` → `/`); RFC-invalid values not
        starting with `/` get one prepended (`private` → `/private`);
        an EMPTY value is the standard "allow everything" idiom and is
        dropped (that open default is the RFC's, not a wildcard drop);
      - `Allow` values keep only literal `/`-prefixed forms; wildcard
        or relative Allows are dropped — failing an Allow means any
        covering Disallow still blocks, i.e. over-blocking, never
        under-blocking;
  * `Crawl-delay: <seconds>` attaches to every rule row of its group;
    a matched group with a delay but no path rules emits an
    (`/`, allow=true, delay) row so the delay still reaches the
    scheduler's capacity formula.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..plans.crawl_round import release

RULE_KEYS = ("user-agent", "allow", "disallow", "crawl-delay")


def parse_robots(bodies: DataFrame, agent: str = "newscrawler") -> DataFrame:
    """(domain, body) → (domain, path_prefix, allow, crawl_delay_s).

    One shuffle (the per-domain window/aggregation); everything else is
    row-local string work inside whole-stage codegen.
    """
    agent = agent.lower()

    lines = bodies.select(
        "domain",
        F.posexplode(
            F.split(F.regexp_replace("body", "﻿", ""), "\r?\n")
        ).alias("pos", "line"),
    )
    cleaned = F.trim(F.regexp_replace("line", "#.*$", ""))
    parsed = (
        lines.withColumn("clean", cleaned)
        .withColumn(
            "key", F.lower(F.trim(F.regexp_extract("clean", "^([^:]+):", 1)))
        )
        .withColumn("val", F.trim(F.regexp_extract("clean", "^[^:]+:(.*)$", 1)))
        .filter(F.col("key").isin(*RULE_KEYS))
    )

    # fail-closed rule normalization (see module docstring): disallow
    # keeps the literal prefix before the first wildcard; allow keeps
    # only literal '/'-prefixed values; NULL = rule dropped
    cut = F.regexp_extract("val", r"^([^*$]*)", 1)
    dis_path = F.when(F.col("val") == "", F.lit(None).cast("string")).otherwise(
        F.when(cut == "", F.lit("/"))
        .when(cut.startswith("/"), cut)
        .otherwise(F.concat(F.lit("/"), cut))
    )
    allow_ok = (
        F.col("val").startswith("/")
        & ~F.col("val").contains("*")
        & ~F.col("val").contains("$")
    )
    rule_path = F.when(
        F.col("key") == "allow", F.when(allow_ok, F.col("val"))
    ).when(F.col("key") == "disallow", dis_path)

    w = Window.partitionBy("domain").orderBy("pos")
    grouped = (
        parsed.withColumn("rule_path", rule_path)
        .withColumn("prev_key", F.lag("key").over(w))
        .withColumn(
            "group_start",
            (
                (F.col("key") == "user-agent")
                & (
                    F.col("prev_key").isNull()
                    | (F.col("prev_key") != "user-agent")
                )
            ).cast("int"),
        )
        .withColumn(
            "gid",
            F.sum("group_start").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .filter(F.col("gid") > 0)  # rules before any User-agent: ignored
    )

    # one row per (domain, gid): the group's agent set, its rules, delay
    groups = grouped.groupBy("domain", "gid").agg(
        F.collect_set(
            F.when(F.col("key") == "user-agent", F.lower(F.col("val")))
        ).alias("agents"),
        F.collect_list(
            F.when(
                F.col("key").isin("allow", "disallow"),
                F.struct(
                    F.col("pos").alias("pos"),
                    (F.col("key") == "allow").alias("allow"),
                    F.col("rule_path").alias("path_prefix"),
                ),
            )
        ).alias("rules"),
        F.max(
            F.when(
                F.col("key") == "crawl-delay",
                F.col("val").cast("double"),
            )
        ).alias("crawl_delay_s"),
    )

    # RFC group selection: specific beats '*'; both computed with one
    # domain-level window (groups per domain are few)
    has_agent = F.array_contains("agents", agent)
    has_star = F.array_contains("agents", "*")
    wd = Window.partitionBy("domain")
    selected = (
        groups.withColumn("match_specific", has_agent)
        .withColumn(
            "any_specific", F.max(has_agent.cast("int")).over(wd) == 1
        )
        .filter(
            F.when(F.col("any_specific"), F.col("match_specific")).otherwise(
                has_star
            )
        )
    )

    # normalization already happened row-wise (rule_path); NULL = dropped
    valid = F.filter(F.col("rules"), lambda r: r["path_prefix"].isNotNull())
    # crawl-delay is effectively per-domain (non-standard directive):
    # max across the selected groups, attached to every emitted rule so
    # apply_robots' longest-prefix pick always carries it
    sel = selected.withColumn("dom_delay", F.max("crawl_delay_s").over(wd))
    base = (
        sel.select("domain", F.explode(valid).alias("r"), "dom_delay")
        .select(
            "domain",
            F.col("r.path_prefix").alias("path_prefix"),
            F.col("r.allow").alias("allow"),
            F.col("dom_delay").alias("crawl_delay_s"),
        )
        .distinct()
    )
    # a delayed domain without an explicit '/' rule gets an allow
    # carrier at '/', so URLs matching no other rule still inherit the
    # delay; never emitted when a real '/' rule exists (an explicit
    # `Disallow: /` must not be shadowed)
    dom = sel.groupBy("domain").agg(F.max("dom_delay").alias("dom_delay"))
    have_root = base.filter(F.col("path_prefix") == "/").select("domain").distinct()
    carrier = (
        dom.filter(F.col("dom_delay").isNotNull())
        .join(have_root, "domain", "left_anti")
        .select(
            "domain",
            F.lit("/").alias("path_prefix"),
            F.lit(True).alias("allow"),
            F.col("dom_delay").alias("crawl_delay_s"),
        )
    )
    return base.unionByName(carrier)


def robots_request_frame(frontier: DataFrame) -> DataFrame:
    """One fetchable robots.txt URL per frontier domain.

    Scheme and authority come from the domain's minimal frontier URL —
    a hard-coded ``https://<domain>/robots.txt`` would break non-default
    ports and http-only hosts (the loopback tests, but also real
    intranet/mirror crawls).  min() keeps the pick deterministic.
    """
    origin = F.concat(
        F.parse_url("url", F.lit("PROTOCOL")),
        F.lit("://"),
        F.parse_url("url", F.lit("AUTHORITY")),
    )
    return (
        frontier.filter(F.col("domain").isNotNull())
        .groupBy("domain")
        .agg(F.min(origin).alias("origin"))
        .select(
            "domain", F.concat("origin", F.lit("/robots.txt")).alias("url")
        )
    )


def fetch_robots(
    frontier: DataFrame,
    fetcher,
    agent: str = "newscrawler",
    exclude: set[str] | None = None,
) -> tuple[list[str], list[tuple]]:
    """Live robots loop: fetch robots.txt for the frontier's (new)
    domains THROUGH the engine's own fetch stage, parse declaratively,
    return driver-side rows for the broadcast rules table.

    → (attempted_domains, rules_rows).  The caller caches
    attempted_domains so each domain fetches once per crawl (robots TTL
    ≈ crawl lifetime; the reference re-reads per process start,
    video_crawler/pixabay/common/base.py:38-55 analog).  A non-200
    robots.txt yields no rules — the RFC 9309 §2.3.1 "unreachable =
    allow" default for 4xx; servers answering 5xx get the same
    treatment here because apply_robots has no tri-state, a documented
    simplification.

    Scale note: the FETCH is distributed (one row per new domain through
    mapInPandas); only the parsed RULES cross the driver, because
    apply_robots broadcasts the rules table — KB-scale by the J3
    contract.  At mega-domain scale the rules accumulate to a catalog
    table instead and apply_robots flips to a shuffle join on domain.
    """
    reqs = robots_request_frame(frontier)
    if exclude:
        ex = frontier.sparkSession.createDataFrame(
            [(d,) for d in sorted(exclude)], "domain string"
        )
        reqs = reqs.join(F.broadcast(ex), "domain", "left_anti")
    # materialize once: the fetch is side-effectful (real HTTP) — the
    # two consumers below must not re-trigger it
    fetched = fetcher.fetch(reqs).select(
        "domain", "status", "html"
    ).localCheckpoint(eager=False)
    try:
        domains = [r.domain for r in fetched.select("domain").collect()]
        if not domains:
            return [], []
        bodies = fetched.filter(F.col("status") == 200).select(
            "domain", F.col("html").alias("body")
        )
        rules = [
            (r.domain, r.path_prefix, r.allow, r.crawl_delay_s)
            for r in parse_robots(bodies, agent=agent).collect()
        ]
        return domains, rules
    finally:
        release([fetched])


def parse_robots_py(body: str, agent: str = "newscrawler") -> list[tuple]:
    """Pure-python twin of parse_robots for tests — same grammar subset,
    same selection/attachment semantics; returns sorted
    (path_prefix, allow, crawl_delay_s) tuples."""
    agent = agent.lower()
    groups: list[dict] = []
    cur = None
    prev_key = None
    for raw in body.replace("﻿", "").split("\n"):
        line = raw.rstrip("\r")
        line = line.split("#", 1)[0].strip()
        if ":" not in line:
            continue
        key, _, val = line.partition(":")
        key, val = key.strip().lower(), val.strip()
        if key not in RULE_KEYS:
            continue
        if key == "user-agent":
            if prev_key != "user-agent":
                cur = {"agents": set(), "rules": [], "delay": None}
                groups.append(cur)
            cur["agents"].add(val.lower())
        elif cur is not None:
            if key == "crawl-delay":
                try:
                    d = float(val)
                except ValueError:
                    d = None
                cur["delay"] = max(cur["delay"], d) if (
                    cur["delay"] is not None and d is not None
                ) else (d if d is not None else cur["delay"])
            elif key == "allow":
                if val.startswith("/") and "*" not in val and "$" not in val:
                    cur["rules"].append((val, True))
            elif val != "":  # disallow: fail-closed wildcard truncation
                cut = val
                for ch in "*$":
                    cut = cut.split(ch, 1)[0]
                p = "/" if cut == "" else (
                    cut if cut.startswith("/") else "/" + cut
                )
                cur["rules"].append((p, False))
        prev_key = key

    any_specific = any(agent in g["agents"] for g in groups)
    chosen = [
        g
        for g in groups
        if (agent in g["agents"] if any_specific else "*" in g["agents"])
    ]
    delays = [g["delay"] for g in chosen if g["delay"] is not None]
    dom_delay = max(delays) if delays else None
    out = set()
    for g in chosen:
        for path, allow in g["rules"]:
            out.add((path, allow, dom_delay))
    if dom_delay is not None and not any(p == "/" for p, _, _ in out):
        out.add(("/", True, dom_delay))
    return sorted(out, key=lambda t: (t[0], t[1], t[2] is None, t[2]))
