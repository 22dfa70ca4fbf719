"""robots.txt compliance for crawl corpora (RFC 9309 shape).

Beyond the reference surface (north-star crawl-pipeline operator): a
training-data pipeline that ingests crawl archives must be able to
answer, corpus-wide, "which of these pages does the site's robots.txt
disallow for my user agent?" — both to filter fetch frontiers and to
retro-audit an already-collected corpus against current policies.

Two stages, all JVM-side expressions (no UDFs):

- ``parse_robots``: a frame of robots.txt DOCUMENTS (host, text) into
  a RULE frame (host, rule_path, pattern, allow, rule_len). Handles
  the RFC 9309 group model: consecutive ``User-agent`` lines form one
  group; a group's rules apply to every agent named above them;
  comments stripped; empty ``Disallow:`` (allow-all) dropped. Agent
  resolution follows the spec: if any group names the product token
  exactly, ONLY those groups apply, else the ``*`` groups.
- ``robots_filter``: URL frame × rule frame -> per-URL verdict via
  LONGEST-MATCH precedence (rule path octet length; allow wins ties —
  the Google/RFC tiebreak), ``*`` wildcards and ``$`` end anchors
  translated to anchored Java regexes in-plan. No matching rule, or
  no robots.txt for the host, means allowed (the spec default).

Scale shape: the rule frame is per-HOST (a few rules each — millions
of rows for the whole web, kilobytes per host). ``robots_filter`` is
SIZE-GATED (``rules_mode="auto"``, the ``nearest_centroid_assign``
discipline): small rule frames broadcast and the URL corpus is never
shuffled; a web-scale rule table first semi-joins down to the hosts
the corpus actually contains (usually re-broadcastable), and only
when even that survivor set exceeds the broadcast budget does the
match run as a shuffle join over a NARROW (row-id, host, path)
projection — the document text column never enters the skewed
host-keyed exchange in any arm.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .cache import released

# rules_mode="auto" broadcasts the per-host rule frame while it has at
# most this many hosts (~a few rules x ~100 B each => low tens of MB —
# comfortably inside executor broadcast budgets); above it, auto
# contracts to the corpus's own hosts and re-checks before falling
# back to the narrow shuffle arm.
ROBOTS_BROADCAST_HOSTS = 100_000


def _rule_to_regex(path_col) -> "F.Column":
    """Translate a robots rule path into an anchored Java regex:
    literal chars escaped, ``*`` -> ``.*``, trailing ``$`` -> end
    anchor. Pure expressions, so rules stay data, not driver state."""
    # escape regex metacharacters EXCEPT * and $ (handled below)
    escaped = F.regexp_replace(
        path_col, r"([\\.\[\]\{\}\(\)\+\?\^\|])", r"\\$1"
    )
    ends_anchored = escaped.endswith("$")
    body = F.when(
        ends_anchored,
        escaped.substr(F.lit(1), F.length(escaped) - 1),
    ).otherwise(escaped)
    # RFC 9309 gives '$' meaning only at the END of a rule; a literal
    # mid-path '$' must not become a regex anchor
    body = F.regexp_replace(body, r"\$", r"\\\$")
    wild = F.regexp_replace(body, r"\*", ".*")
    return F.concat(
        F.lit("^"),
        wild,
        F.when(ends_anchored, F.lit("$")).otherwise(F.lit("")),
    )


def _parsed_lines(robots_df: DataFrame, host_col: str, text_col: str):
    """(host, pos, __key, __val): comment-stripped key:value lines."""
    lines = robots_df.select(
        F.col(host_col).alias("host"),
        F.posexplode(F.split(F.coalesce(F.col(text_col), F.lit("")), "\n"))
        .alias("pos", "__line"),
    ).select(
        "host",
        "pos",
        # strip comments + whitespace
        F.trim(F.regexp_replace("__line", r"#.*$", "")).alias("__line"),
    )
    return lines.select(
        "host",
        "pos",
        F.lower(
            F.trim(F.regexp_extract("__line", r"^([A-Za-z-]+)\s*:", 1))
        ).alias("__key"),
        F.trim(F.regexp_extract("__line", r"^[A-Za-z-]+\s*:(.*)$", 1)).alias(
            "__val"
        ),
    )


def _grouped_lines(
    robots_df: DataFrame, host_col: str, text_col: str
) -> DataFrame:
    """Group-attributed directive lines: ``(host, pos, __key, __val,
    __gid)`` for the group-scoped keys (user-agent / allow / disallow /
    crawl-delay). A run of consecutive User-agent lines opens a group
    (RFC 9309 §2.2.1); every other directive line ends the run, so a
    later User-agent starts a NEW group."""
    parsed = _parsed_lines(robots_df, host_col, text_col).filter(
        F.col("__key").isin(
            "user-agent", "allow", "disallow", "crawl-delay"
        )
    )
    w = Window.partitionBy("host").orderBy("pos")
    return parsed.select(
        "host",
        "pos",
        "__key",
        "__val",
        F.sum(
            F.when(
                (F.col("__key") == "user-agent")
                & (
                    F.coalesce(F.lag("__key").over(w), F.lit(""))
                    != "user-agent"
                ),
                1,
            ).otherwise(0)
        )
        .over(w)
        .alias("__gid"),
    )


def _applicable_groups(grouped: DataFrame, user_agent: str) -> DataFrame:
    """(host, __gid) of the groups that govern ``user_agent``: the
    exact-token groups when any exist for the host, else the ``*``
    groups (RFC 9309 agent resolution)."""
    ua = user_agent.lower()
    agents = (
        grouped.filter(F.col("__key") == "user-agent")
        .groupBy("host", "__gid")
        .agg(
            F.max(
                F.when(F.lower("__val") == ua, 1).otherwise(0)
            ).alias("__exact"),
            F.max(F.when(F.col("__val") == "*", 1).otherwise(0)).alias(
                "__star"
            ),
        )
    )
    host_has_exact = agents.groupBy("host").agg(
        F.max("__exact").alias("__host_exact")
    )
    return (
        agents.join(host_has_exact, "host")
        .filter(
            F.when(F.col("__host_exact") == 1, F.col("__exact") == 1)
            .otherwise(F.col("__star") == 1)
        )
        .select("host", "__gid")
    )


def robots_directives(
    robots_df: DataFrame,
    host_col: str = "host",
    text_col: str = "text",
    user_agent: str = "*",
) -> DataFrame:
    """Per-host non-rule directives: ``(host, crawl_delay, sitemaps)``.

    ``crawl_delay`` (seconds, nullable double) comes from the groups
    governing ``user_agent`` — the MINIMUM across them when several
    apply, NULL when absent or non-numeric (``try_cast``: junk values
    degrade to "no delay stated", never a job abort). ``sitemaps`` is
    the sorted array of ``Sitemap:`` URLs — host-wide per
    sitemaps.org, independent of any user-agent group. Hosts with
    neither directive still appear (both columns NULL/empty) so the
    frame is a complete per-host policy summary."""
    grouped = _grouped_lines(robots_df, host_col, text_col)
    applicable = _applicable_groups(grouped, user_agent)
    delays = (
        grouped.filter(F.col("__key") == "crawl-delay")
        .join(applicable, ["host", "__gid"])
        .groupBy("host")
        .agg(
            F.min(F.expr("try_cast(__val AS DOUBLE)")).alias(
                "crawl_delay"
            )
        )
    )
    sitemaps = (
        _parsed_lines(robots_df, host_col, text_col)
        .filter((F.col("__key") == "sitemap") & (F.col("__val") != ""))
        .groupBy("host")
        .agg(F.sort_array(F.collect_set("__val")).alias("sitemaps"))
    )
    hosts = robots_df.select(
        F.col(host_col).alias("host")
    ).distinct()
    return (
        hosts.join(delays, "host", "left")
        .join(sitemaps, "host", "left")
        .select(
            "host",
            "crawl_delay",
            F.coalesce(
                "sitemaps", F.array().cast("array<string>")
            ).alias("sitemaps"),
        )
    )


def parse_robots(
    robots_df: DataFrame,
    host_col: str = "host",
    text_col: str = "text",
    user_agent: str = "*",
) -> DataFrame:
    """Rule frame for one user agent: ``(host, rule_path, pattern,
    allow, rule_len)``.

    Group semantics per RFC 9309 §2.2.1: a run of consecutive
    ``User-agent`` lines opens a group; ``Allow``/``Disallow`` lines
    belong to the open group and apply to every agent it names. If any
    group names ``user_agent`` exactly (case-insensitive product
    token), only those groups' rules survive; otherwise the ``*``
    groups. Unknown directives (Sitemap, Crawl-delay, ...) are
    ignored; a robots.txt smaller than one group yields no rules
    (allow-all)."""
    grouped = _grouped_lines(robots_df, host_col, text_col)
    applicable = _applicable_groups(grouped, user_agent)
    rules = (
        grouped.filter(F.col("__key").isin("allow", "disallow"))
        .filter(F.col("__val") != "")  # empty Disallow: = no rule
        .join(applicable, ["host", "__gid"])
        .select(
            "host",
            F.col("__val").alias("rule_path"),
            (F.col("__key") == "allow").alias("allow"),
        )
        .distinct()
    )
    return rules.select(
        "host",
        "rule_path",
        _rule_to_regex(F.col("rule_path")).alias("pattern"),
        "allow",
        F.length("rule_path").cast("long").alias("rule_len"),
    )


def robots_from_corpus(
    corpus_df: DataFrame,
    url_col: str = "url",
    text_col: str = "text",
    host_col_name: str = "host",
) -> DataFrame:
    """(host, text) robots.txt documents pulled out of a crawled
    corpus itself — a WARC crawl fetches ``/robots.txt`` per host, so
    the policy frame ships inside the same archive
    (``warc_text_corpus`` output feeds straight in). When a host was
    fetched more than once the lexically-greatest body wins (a
    deterministic, engine-portable tiebreak)."""
    from .urltools import host_col as host_of

    pathish = F.regexp_replace(
        F.col(url_col), r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*", ""
    )
    return (
        corpus_df.filter(pathish == "/robots.txt")
        .select(
            F.coalesce(
                F.col(host_col_name)
                if host_col_name in corpus_df.columns
                else host_of(F.col(url_col)),
                host_of(F.col(url_col)),
            ).alias("host"),
            F.col(text_col).alias("text"),
        )
        .groupBy("host")
        .agg(F.max("text").alias("text"))
    )


def _winning_rule(rules_col: Column, path_col: Column) -> Column:
    """The winning (rule_len, allow, rule_path) struct for one URL
    path against its host's rule array (NULL rules / no match =>
    NULL): filter the matching rules with a regex lambda, array_max
    the struct — longest match wins, allow wins length ties (struct
    ordering: rule_len, then allow with true > false). Shared by
    every ``robots_filter`` arm so the arms can never disagree."""
    matched = F.filter(
        F.coalesce(
            rules_col,
            F.array().cast(
                "array<struct<rule_len:bigint,allow:boolean,"
                "rule_path:string,pattern:string>>"
            ),
        ),
        lambda r: F.regexp_like(path_col, r["pattern"]),
    )
    return F.array_max(
        F.transform(
            matched,
            lambda r: F.struct(
                r["rule_len"].alias("rule_len"),
                r["allow"].alias("allow"),
                r["rule_path"].alias("rule_path"),
            ),
        )
    )


def _collect_if_small(per_host, host_limit: int, byte_limit: int):
    """Bounded two-phase probe of the per-host rule frame: first pull
    at most ``host_limit + 1`` CHEAP (host, est_bytes) rows — the rule
    arrays stay executor-side — and gate on BOTH host count and the
    estimated serialized size (ADVICE r14: a tail of hosts with
    pathological robots.txt breaks the ~100 B/host sizing assumption;
    100k rows each dragging a multi-thousand-rule array to the driver
    is memory pressure before the gate helps). Only when both gates
    pass do the actual rows ride back for the LOCAL relation. Returns
    the collected rows or None (caller falls through to the next
    arm). The estimate pass re-runs the rule parse once (bounded by
    the limit); the local relation itself still parses exactly once."""
    est = (
        per_host.select(
            F.expr(
                "aggregate(__rules, cast(32 as bigint), (a, x) -> "
                "a + coalesce(length(x.rule_path), 0) + "
                "coalesce(length(x.pattern), 0) + 24)"
            ).alias("__b")
        )
        .limit(host_limit + 1)
        .collect()
    )
    if len(est) > host_limit:
        return None
    if sum(r["__b"] or 0 for r in est) > byte_limit:
        return None
    return per_host.limit(host_limit + 1).collect()


def robots_filter(
    urls_df: DataFrame,
    rules_df: DataFrame,
    url_col: str = "url",
    keep_disallowed: bool = False,
    rules_mode: str = "auto",
    broadcast_host_limit: int = ROBOTS_BROADCAST_HOSTS,
    broadcast_byte_limit: int = 64 * 2**20,
) -> DataFrame:
    """Per-URL robots verdict: input columns plus ``allowed`` and
    ``matched_rule`` (the winning rule path, NULL when no rule
    matched). Longest-match precedence, allow wins length ties, no
    match / unknown host => allowed. ``keep_disallowed=True`` returns
    every row annotated; default drops disallowed rows (the gate
    shape).

    The rule frame contracts to ONE ROW PER HOST carrying its rules
    as an array (hosts x a few rules — kilobytes/host); the winner is
    computed per URL with array lambdas (``_winning_rule``). HOW that
    per-host frame meets the corpus is SIZE-GATED (``rules_mode``,
    VERDICT r13 #1 — an unconditional broadcast of a web-wide rule
    table is a driver OOM):

    - "broadcast": the per-host frame broadcasts as a lazy plan; the
      URL corpus is never shuffled (one narrow broadcast-join
      projection, no explode, no groupBy over document rows).
    - "auto" (default): probe the per-host frame with a bounded
      ``limit(n+1).collect()`` — at most ``broadcast_host_limit``
      hosts ride back and become a LOCAL relation, so the chosen
      broadcast never recomputes the parse (the
      ``nearest_centroid_assign`` collect-once discipline). Over the
      limit, the frame first SEMI-JOINS to the corpus's distinct
      hosts (the corpus host set is what actually matters and is
      usually far smaller than a web-wide rule table; the extra cost
      is one column-pruned scan of the url column) and re-probes —
      broadcasting the survivor set when it now fits, else the
      shuffle arm.
    - "shuffle": the scale floor. The match join shuffles a NARROW
      ``(row_id, host, path)`` projection against the (corpus-host
      semi-joined) rule frame — only rows whose host HAS rules ever
      enter the skewed host-keyed exchange, and the text column never
      does; AQE's skew-join split handles mega-hosts because the
      shuffled rows are ~100 B each. Verdicts ``(row_id, allowed,
      matched_rule)`` then join back on the synthetic unique row id —
      a skew-FREE key AQE can satisfy by broadcasting the verdicts
      when they fit; when they don't, the one full-width corpus pass
      through an exchange happens here, on the uniform key, which is
      the floor for any non-broadcastable policy join (the
      alternative — joining the corpus directly on host — moves the
      same bytes through the SKEWED key). Row ids come from
      ``monotonically_increasing_id`` pinned by a lazy
      ``localCheckpoint`` so both join-back sides read the SAME
      materialized ids even under a nondeterministic upstream, and a
      join-back miss (impossible unless ids diverge) fails CLOSED
      (``allowed=False``) rather than waving disallowed URLs through
      (ADVICE r14).

    Both auto probes gate on host count AND estimated rule bytes
    (``broadcast_byte_limit``, default 64 MiB): the byte estimate
    rides a cheap bounded aggregate so pathological robots.txt tails
    never drag full rule arrays to the driver just to be rejected.
    """
    from .urltools import host_col as host_of

    modes = ("auto", "broadcast", "shuffle")
    if rules_mode not in modes:
        raise ValueError(f"rules_mode must be one of {modes}")
    if rules_df.isStreaming:
        # every arm aggregates the rule frame (collect_list per host)
        # and auto probes it with collect() — neither exists for a
        # streaming frame; fail with the remedy, not an
        # AnalysisException from deep inside the plan
        raise ValueError(
            "robots_filter needs a BATCH rule frame — materialize the "
            "streaming robots corpus first (foreachBatch / parquet "
            "sink), then parse_robots over the batch table"
        )
    path = F.coalesce(
        F.nullif(
            F.regexp_extract(
                F.col(url_col), r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^#]*)", 1
            ),
            F.lit(""),
        ),
        F.lit("/"),
    )
    host = host_of(F.col(url_col))
    # one row per host, rules as an array; renamed so an input frame
    # that already carries host/allow/pattern columns never collides
    per_host = rules_df.groupBy(F.col("host").alias("__rhost")).agg(
        F.collect_list(
            F.struct(
                F.col("rule_len"),
                F.col("allow"),
                F.col("rule_path"),
                F.col("pattern"),
            )
        ).alias("__rules")
    )

    use_shuffle = rules_mode == "shuffle"
    if rules_mode == "auto":
        spark = urls_df.sparkSession
        probe = _collect_if_small(
            per_host, broadcast_host_limit, broadcast_byte_limit
        )
        if probe is not None:
            per_host = spark.createDataFrame(probe, per_host.schema)
        else:
            if urls_df.isStreaming:
                # the corpus-host semi-join probe needs a batch
                # aggregate; a streaming corpus can't provide one at
                # plan time — make the caller choose instead of
                # failing deep inside an AnalysisException
                raise ValueError(
                    "robots_filter: the rule frame exceeds "
                    f"broadcast_host_limit={broadcast_host_limit} and "
                    "the URL frame is streaming — pre-filter the "
                    "rules to the crawl's hosts, or pass "
                    "rules_mode='broadcast'/'shuffle' explicitly"
                )
            corpus_hosts = (
                urls_df.select(host.alias("__uhost")).distinct()
            )
            surv = per_host.join(
                corpus_hosts,
                per_host["__rhost"] == corpus_hosts["__uhost"],
                "left_semi",
            )
            # the two-phase probe (byte estimate, then rows) would
            # otherwise run the corpus-wide distinct-host scan +
            # semi-join twice on the accepted path — persist the
            # survivor frame across the probe, release it after
            with released(surv.persist()) as surv:
                probe = _collect_if_small(
                    surv, broadcast_host_limit, broadcast_byte_limit
                )
            if probe is not None:
                per_host = spark.createDataFrame(probe, per_host.schema)
            else:
                use_shuffle = True

    if not use_shuffle:
        keyed = urls_df.withColumn("__host", host).withColumn(
            "__path", path
        )
        joined = keyed.join(
            F.broadcast(per_host),
            keyed["__host"] == per_host["__rhost"],
            "left",
        )
        win = _winning_rule(F.col("__rules"), F.col("__path"))
        verdict = joined.select(
            *urls_df.columns,
            F.coalesce(win["allow"], F.lit(True)).alias("allowed"),
            win["rule_path"].alias("matched_rule"),
        )
    else:
        if urls_df.isStreaming:
            raise ValueError(
                "robots_filter: the shuffle arm keys rows with "
                "monotonically_increasing_id, which a streaming frame "
                "cannot carry across the join-back — pre-filter the "
                "rules to the crawl's hosts so the broadcast arm fits, "
                "or gate inside foreachBatch"
            )
        # __rid appears on BOTH sides of the verdict join-back, and
        # monotonically_increasing_id is only stable across the two
        # evaluations if the upstream plan is deterministic; a
        # nondeterministic upstream (rand-sample, unseeded shuffle)
        # could assign different ids per side and silently mis-join
        # (ADVICE r14: fail-open). localCheckpoint pins ONE
        # materialization both sides read — EAGER, because the two
        # consumers are independent concurrent map stages and a lazy
        # checkpoint's cache-populate can race them (both compute the
        # partition before either caches it). The extra corpus write
        # is the price of a correct join-back, on an arm that already
        # pays a full-width exchange by construction.
        keyed = urls_df.withColumn(
            "__rid", F.monotonically_increasing_id()
        ).localCheckpoint(eager=True)
        narrow = keyed.select(
            "__rid", host.alias("__host"), path.alias("__path")
        )
        # the shuffle arm always contracts the rule frame to the
        # corpus's hosts first — rules for hosts the corpus never
        # mentions must not ride the exchange
        surv = per_host.join(
            narrow.select(F.col("__host").alias("__uhost")).distinct(),
            per_host["__rhost"] == F.col("__uhost"),
            "left_semi",
        )
        win = _winning_rule(F.col("__rules"), F.col("__path"))
        # LEFT join: every rid carries exactly one verdict row (hosts
        # without rules verdict True via the null-rules lambda), so a
        # miss on the join-back below can only mean an id mismatch —
        # which now FAILS CLOSED (allowed=False) instead of silently
        # passing disallowed URLs
        verdicts = (
            narrow.join(
                surv, narrow["__host"] == surv["__rhost"], "left"
            )
            .select(
                "__rid",
                F.coalesce(win["allow"], F.lit(True)).alias("__allowed"),
                win["rule_path"].alias("__matched_rule"),
            )
        )
        verdict = keyed.join(verdicts, "__rid", "left").select(
            *urls_df.columns,
            F.coalesce("__allowed", F.lit(False)).alias("allowed"),
            F.col("__matched_rule").alias("matched_rule"),
        )
    if keep_disallowed:
        return verdict
    return verdict.filter(F.col("allowed"))
