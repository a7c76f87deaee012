"""URL canonicalization — the dedup-key normalizer every web-scale
pipeline runs before url-level dedup / frontier merging (the CCNet/C4
step; reference analog: request-path normalization in
/root/reference/server/file_handler.h:25-38, which canonicalizes
incoming resource paths before lookup).

Pure Catalyst column expressions (zero shuffle, whole-stage codegen);
every regex stays in the Java/RE2 common subset so the DuckDB oracle
replays the IDENTICAL pattern strings (the discipline established in
curation.redact_pii).

Policy (deterministic, minimal, documented):
  - strip the #fragment
  - lowercase scheme and authority (host is case-insensitive per
    RFC 3986 §6.2.2.1; path/query case is preserved — significant)
  - drop the default port for the scheme (http:80, https:443)
  - empty path -> '/'
  - query: split on '&', drop empty params and tracking params
    (utm_*, fbclid, gclid, msclkid, mc_cid, mc_eid), sort the rest
    lexicographically (RFC 3986 §6.2.2 allows scheme-specific
    normalization; param order is almost never significant), re-join;
    an emptied query drops the '?'
  - anything that does not parse as scheme://authority... is returned
    UNCHANGED (null-safe: null in, null out)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# kept in ONE place: the Spark expression and the DuckDB oracle SQL
# (oracle_url_sql) both interpolate these exact strings
SCHEME_RE = r"^([A-Za-z][A-Za-z0-9+.-]*)://"
AUTHORITY_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)"
PATH_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)"
QUERY_RE = r"\?([^#]*)"
TRACKING_RE = r"^(utm_[a-z0-9]+|fbclid|gclid|msclkid|mc_cid|mc_eid)="


def canonical_url(url_col):
    """Column: canonical form of `url_col` per the module policy."""
    if isinstance(url_col, str):
        url_col = F.col(url_col)
    u = F.regexp_replace(url_col, r"#.*$", "")   # fragment never survives
    scheme = F.lower(F.regexp_extract(u, SCHEME_RE, 1))
    auth = F.lower(F.regexp_extract(u, AUTHORITY_RE, 1))
    strip80 = (scheme == "http") & auth.endswith(":80")
    strip443 = (scheme == "https") & auth.endswith(":443")
    auth = (F.when(strip80, F.substring(auth, 1, F.length(auth) - 3))
             .when(strip443, F.substring(auth, 1, F.length(auth) - 4))
             .otherwise(auth))
    path = F.regexp_extract(u, PATH_RE, 1)
    path = F.when(path == "", F.lit("/")).otherwise(path)
    q = F.array_join(
        F.array_sort(F.filter(
            F.split(F.regexp_extract(u, QUERY_RE, 1), "&"),
            lambda p: (p != "") & ~p.rlike(TRACKING_RE))),
        "&")
    rebuilt = F.concat(
        scheme, F.lit("://"), auth, path,
        F.when(q == "", F.lit("")).otherwise(F.concat(F.lit("?"), q)))
    return F.when(scheme == "", url_col).otherwise(rebuilt)


def oracle_url_sql(expr: str) -> str:
    """DuckDB scalar expression mirroring canonical_url(expr) — the
    same regex strings, the same branch structure."""
    u = f"regexp_replace({expr}, '#.*$', '')"
    scheme = f"lower(regexp_extract({u}, '{SCHEME_RE}', 1))"
    auth0 = f"lower(regexp_extract({u}, '{AUTHORITY_RE}', 1))"
    auth = (
        f"CASE WHEN {scheme} = 'http' AND {auth0} LIKE '%:80' "
        f"THEN {auth0}[1:-4] "
        f"WHEN {scheme} = 'https' AND {auth0} LIKE '%:443' "
        f"THEN {auth0}[1:-5] ELSE {auth0} END")
    path0 = f"regexp_extract({u}, '{PATH_RE}', 1)"
    path = f"CASE WHEN {path0} = '' THEN '/' ELSE {path0} END"
    # coalesce: DuckDB's array_to_string over a fully-filtered-out list
    # yields NULL, not '' (Spark's array_join yields '')
    q = (f"coalesce(array_to_string(list_sort(list_filter("
         f"string_split(regexp_extract({u}, '\\?([^#]*)', 1), '&'), "
         f"p -> p <> '' AND NOT regexp_matches(p, '{TRACKING_RE}'))), '&'), '')")
    rebuilt = (f"{scheme} || '://' || {auth} || {path} || "
               f"CASE WHEN {q} = '' THEN '' ELSE '?' || {q} END")
    return f"CASE WHEN {scheme} = '' THEN {expr} ELSE {rebuilt} END"


# ---------- domain blocklist filtering ----------

def authority_host(url_col):
    """Column: lowercase host of a URL (port/userinfo stripped) via
    the RFC authority grammar. Distinct from partitioning.host_of —
    that one is the salt-plan/layout key ('^[a-z]+://([^/]+)/', keeps
    port/userinfo, requires a path slash) and each has an oracle
    pinning ITS semantics; don't swap them."""
    if isinstance(url_col, str):
        url_col = F.col(url_col)
    auth = F.lower(F.regexp_extract(url_col, AUTHORITY_RE, 1))
    auth = F.element_at(F.split(auth, "@"), -1)   # drop userinfo
    return F.element_at(F.split(auth, ":"), 1)    # drop port


def flag_blocked(df: DataFrame, blocklist: DataFrame,
                 url_col: str = "url", out_col: str = "blocked",
                 max_labels: int = 4) -> DataFrame:
    """Flag rows whose URL host is a blocklisted domain or a
    SUBDOMAIN of one (entry 'example.org' blocks 'example.org' and
    'a.b.example.org') — the URL-blocklist gate web pipelines apply
    before extraction.

    blocklist: a 1-column DataFrame of lowercase domains. Scale
    shape: the corpus side never shuffles and never explodes — the
    host's dot-suffixes become max_labels derived columns probed by
    chained broadcast LEFT joins against the blocklist (same idiom as
    the decontamination bloom probes); a million-entry blocklist is a
    few-MB broadcast. Suffixes are taken from the END of the host (the
    last 1..max_labels labels), so a host with more labels than
    max_labels still matches any blocklist entry up to max_labels
    labels long — blocklist entries are registrable domains, rarely
    over 4 labels (each extra label is one more broadcast join; raise
    max_labels only for blocklists with deeper entries).
    """
    bcol = blocklist.columns[0]
    bl = blocklist.select(F.lower(F.col(bcol)).alias("_bl_dom")).distinct()
    host = authority_host(url_col)
    labels = F.split(host, r"\.")
    n = F.size(labels)
    out = df.withColumn("_host_labels", labels)
    hits = []
    for j in range(max_labels):
        # suffix of the LAST j+1 labels (j=0 -> TLD alone, j=1 ->
        # registrable domain, ...); null when the host is shorter
        sfx = F.when(
            n > j,
            F.array_join(F.slice(F.col("_host_labels"),
                                 n - j, j + 1), "."))
        side = bl.select(F.col("_bl_dom").alias(f"_bl{j}"))
        out = (out.withColumn(f"_sfx{j}", sfx)
               .join(F.broadcast(side),
                     F.col(f"_sfx{j}") == F.col(f"_bl{j}"), "left"))
        hits.append(F.col(f"_bl{j}").isNotNull())
    blocked = hits[0]
    for h in hits[1:]:
        blocked = blocked | h
    drop = ["_host_labels"] + [f"_sfx{j}" for j in range(max_labels)] \
        + [f"_bl{j}" for j in range(max_labels)]
    return out.withColumn(out_col, blocked).drop(*drop)


def filter_blocklist(df: DataFrame, blocklist: DataFrame,
                     url_col: str = "url",
                     max_labels: int = 4) -> DataFrame:
    """Drop rows whose URL host matches the blocklist (see
    flag_blocked); preserves the input schema."""
    return (flag_blocked(df, blocklist, url_col, "_blocked", max_labels)
            .filter(~F.col("_blocked")).drop("_blocked"))


def url_norm_for_scoring(url_col):
    """Lowercased URL with the separator characters obfuscation hides
    behind ([-._%]) removed, so 'b-a-d' / 'b.a.d' / 'b_a_d' all
    surface the word 'bad' to a substring probe — the normalization
    the RefinedWeb-style soft URL filter applies before scoring.
    Shared with the DuckDB oracle as a documented contract (lower +
    one regexp_replace, Java/RE2-common subset)."""
    if isinstance(url_col, str):
        url_col = F.col(url_col)
    return F.regexp_replace(F.lower(url_col), r"[-._%]", "")


def url_wordlist_score(df: DataFrame, weighted_words,
                       url_col: str = "url",
                       threshold: float = 1.0) -> DataFrame:
    """(input cols..., url_word_score, url_word_blocked) — the GRADED
    URL filter of the RefinedWeb recipe: each (word, weight) entry
    contributes its weight when the word occurs as a substring of the
    normalized url (url_norm_for_scoring — lowercase, obfuscation
    separators stripped; each ENTRY gets the same normalization, so
    'bad-word' probes as 'badword' instead of silently never
    matching), and the row is blocked when the summed
    score reaches `threshold`. Presence, not count: a word
    contributes its weight once. This is the SOFT signal beside the
    two hard gates (flag_blocked by domain; wordlist_page_filter on
    page text) — together the URL-filtering trio.

    Scale shape: pure Catalyst — the list rides the plan as a flat
    sum of `contains` conditionals (the classifier.py literal-fold
    discipline), zero shuffle, zero Python, zero joins; guarded at
    1000 entries (curated severity lists are ~10^2; a bigger list
    belongs in the broadcast-join operators above)."""
    # entries get the SAME normalization as the URL (lower + strip
    # [-._%]): an un-normalized entry like 'bad-word' or 'sex.com'
    # could never match the normalized URL — it would silently
    # contribute 0 to every row's score
    import re as _re
    pairs = [(_re.sub(r"[-._%]", "", w.lower().strip()), float(wt))
             for w, wt in weighted_words if w.strip()]
    gone = [w for w, _ in pairs if not w]
    if gone:
        raise ValueError(
            "url_wordlist_score: entries vanish under normalization "
            "(only separator chars [-._%])")
    if not pairs:
        raise ValueError("url_wordlist_score: empty word list")
    # two entries normalizing to one probe would each add their weight
    # on a single presence, breaking the once-per-word contract
    seen, clash = set(), set()
    for w, _ in pairs:
        (clash if w in seen else seen).add(w)
    if clash:
        raise ValueError(
            f"url_wordlist_score: entries collide under normalization "
            f"{sorted(clash)[:3]} — merge them into one weight")
    if len(pairs) > 1000:
        raise ValueError(
            "url_wordlist_score: >1000 entries — the literal "
            "conditional sum degrades; use flag_blocked / "
            "wordlist_page_filter's join strategy shapes instead")
    norm = url_norm_for_scoring(url_col)
    score = None
    for w, wt in pairs:
        term = F.when(norm.contains(w), F.lit(wt)).otherwise(F.lit(0.0))
        score = term if score is None else score + term
    return (df.withColumn("url_word_score", F.round(score, 6))
            .withColumn("url_word_blocked",
                        F.col("url_word_score") >= F.lit(threshold)))


# ---------- robots-style URL rule gate (RFC 9309 simplified) ----------

def robots_gate(df: DataFrame, rules: DataFrame,
                url_col: str = "url",
                out_col: str = "allowed") -> DataFrame:
    """Crawl-politeness gate: decide each URL against per-host
    allow/disallow PATH-PREFIX rules with robots-exclusion semantics
    (RFC 9309, literal prefixes — no wildcards by policy):

      - rules match when the URL path starts with the rule prefix
      - the LONGEST matching prefix wins
      - on a length tie, allow wins (least-restrictive)
      - no matching rule -> allowed

    rules: (host, prefix, allow:boolean). Scale shape: rules are
    pre-aggregated to ONE row per host (collect_list of structs) and
    BROADCAST, so the corpus side takes a single 1:1 equi-join on
    host and never duplicates rows per candidate rule; match +
    longest/tie resolution run as array HOFs (filter + array_max over
    struct(len, allow) — struct comparison IS the precedence order).
    Zero corpus shuffle; a million-rule robots corpus is a few-MB
    broadcast. The empty path normalizes to '/'.
    """
    rcols = rules.columns
    by_host = F.broadcast(
        rules.select(F.lower(F.col(rcols[0])).alias("_rg_host"),
                     F.struct(F.col(rcols[1]).cast("string")
                              .alias("prefix"),
                              F.col(rcols[2]).cast("boolean")
                              .alias("allow")).alias("_r"))
        .groupBy("_rg_host")
        .agg(F.collect_list("_r").alias("_rg_rules")))
    path_raw = F.regexp_extract(F.col(url_col), PATH_RE, 1)
    path = F.when(path_raw == "", "/").otherwise(path_raw)
    out = (df.withColumn("_rg_path", path)
           .join(by_host,
                 authority_host(url_col) == F.col("_rg_host"), "left"))
    matching = F.filter(
        F.coalesce(F.col("_rg_rules"),
                   F.array().cast("array<struct<prefix:string,"
                                  "allow:boolean>>")),
        lambda r: F.startswith(F.col("_rg_path"), r["prefix"]))
    best = F.array_max(F.transform(
        matching, lambda r: F.struct(F.length(r["prefix"]).alias("l"),
                                     r["allow"].alias("a"))))
    return (out.withColumn(out_col, F.coalesce(best["a"], F.lit(True)))
            .drop("_rg_host", "_rg_rules", "_rg_path"))


# ---------- robots.txt PARSING (raw text -> rules table) ----------

# line grammar (RFC 9309 simplified): trailing comments stripped,
# case-insensitive field names, one token of lookahead never needed
_ROBOTS_UA_RE = r"(?i)^user-agent:\s*(\S+)\s*$"
_ROBOTS_RULE_RE = r"(?i)^(allow|disallow):\s*(\S*)\s*$"


def parse_robots(df: DataFrame, txt_col: str = "robots_txt",
                 host_col: str = "host") -> DataFrame:
    """Parse raw robots.txt bodies into the (host, agent, allow,
    prefix) rule rows that `robots_gate` consumes — the missing front
    half of the robots pipeline (fetch -> PARSE -> gate).

    Group semantics (RFC 9309 §2.2, simplified): consecutive
    User-agent lines with no rule between them form ONE group whose
    following Allow/Disallow lines apply to every named agent; the
    next User-agent line after a rule starts a fresh group. Documented
    simplifications, each pinned in tests: comments (#) and blank
    lines are stripped/ignored (a blank line does NOT end a group —
    the dominant real-world interpretation), rules before any
    User-agent line are dropped, an empty rule path (the RFC
    'Disallow:' = allow-everything idiom) emits no row but still
    closes the user-agent run, and non-rule fields (Crawl-delay,
    Sitemap) are ignored.

    Shape: the whole stateful line walk is ONE pure-Catalyst
    aggregate() fold over the split lines (the bpe.py fold
    discipline) carrying (open agent set, in-ua-run flag, emitted
    rules) — zero Python, zero shuffle, one explode at the end. The
    DuckDB certification replays planted arithmetic, not the fold
    (q_robots_parse)."""
    lines = F.split(F.col(txt_col), "\n")
    clean = F.transform(
        lines, lambda ln: F.trim(F.regexp_replace(ln, "#.*$", "")))

    rule_t = "array<struct<agent:string,allow:boolean,prefix:string>>"
    init = F.struct(
        F.array().cast("array<string>").alias("ag"),
        F.lit(False).alias("run"),
        F.array().cast(rule_t).alias("out"))

    def step(acc, ln):
        ua = F.regexp_extract(ln, _ROBOTS_UA_RE, 1)
        kind = F.lower(F.regexp_extract(ln, _ROBOTS_RULE_RE, 1))
        path = F.regexp_extract(ln, _ROBOTS_RULE_RE, 2)
        is_ua = ua != ""
        # any Allow/Disallow line closes the user-agent run (even the
        # empty-path 'Disallow:' idiom, which emits no row) — else an
        # all-empty group would leak its agents into the next group
        is_rule_line = kind != ""
        is_rule = is_rule_line & (path != "")
        new_ag = (F.when(is_ua & acc["run"],
                         F.concat(acc["ag"], F.array(ua)))
                  .when(is_ua, F.array(ua))
                  .otherwise(acc["ag"]))
        new_run = (F.when(is_ua, F.lit(True))
                   .when(is_rule_line, F.lit(False))
                   .otherwise(acc["run"]))
        adds = F.when(is_rule, F.transform(
            acc["ag"],
            lambda a: F.struct(a.alias("agent"),
                               (kind == "allow").alias("allow"),
                               path.alias("prefix")))) \
            .otherwise(F.array().cast(rule_t))
        return F.struct(new_ag.alias("ag"), new_run.alias("run"),
                        F.concat(acc["out"], adds).alias("out"))

    rules = F.aggregate(clean, init, step)["out"]
    return (df.select(F.col(host_col).alias("host"),
                      F.explode(rules).alias("r"))
            .select("host", "r.agent", "r.allow", "r.prefix"))


# ---------- robots.txt Sitemap: discovery ----------

_ROBOTS_SITEMAP_RE = r"(?i)^sitemap:\s*(\S+)\s*$"


def robots_sitemaps(df: DataFrame, txt_col: str = "robots_txt",
                    host_col: str = "host") -> DataFrame:
    """Extract `Sitemap:` directives from raw robots.txt bodies —
    the discovery link between the robots pipeline (parse_robots
    deliberately ignores non-rule fields) and the sitemap harvester
    (feeds.sitemap_entries): robots fetch -> THIS -> sitemap fetch ->
    urlset parse -> frontier.

    Policy (RFC 9309 §2.3 simplified, each point pinned in tests):
    field name case-insensitive, comments (#) stripped, value
    trimmed; the directive is global (not scoped to a User-agent
    group), so position is ignored; RELATIVE values are dropped (the
    RFC requires an absolute URI); exact duplicates within one
    robots.txt collapse to one row.

    Shape: pure Catalyst (split -> transform -> filter ->
    array_distinct), ONE explode, zero Python, zero shuffle —
    the parse_robots discipline. Returns (host_col, sitemap_url)."""
    lines = F.split(F.col(txt_col), "\n")
    clean = F.transform(
        lines, lambda ln: F.trim(F.regexp_replace(ln, "#.*$", "")))
    urls = F.filter(
        F.transform(clean,
                    lambda ln: F.regexp_extract(
                        ln, _ROBOTS_SITEMAP_RE, 1)),
        lambda u: (u != "") & u.rlike(SCHEME_RE))
    return df.select(F.col(host_col),
                     F.explode(F.array_distinct(urls))
                      .alias("sitemap_url"))


# ---------- rel=canonical collapse ----------

def canonical_collapse(df: DataFrame, url_col: str = "url",
                       canon_col: str = "canonical_url",
                       ts_col: str = "warc_ts") -> DataFrame:
    """Collapse alternate captures onto their rel=canonical target —
    the dedup step downstream of meta.page_meta: mobile/AMP/tracking
    variants of one article all declare the same canonical URL, and a
    training corpus wants ONE representative per canonical identity.

    Key = the page's declared canonical when non-empty AND absolute
    (SCHEME_RE — a relative canonical is ambiguous and ignored), else
    the page's own url. Winner per key = latest ts_col, ties broken by
    larger url string, so the choice is deterministic and
    partitioning-independent.

    Shape: ONE partial-aggregated groupBy on the canonical key
    (max_by struct — no window, no join-back); count rides along.
    Returns (canon_key, url, ts_col, n_captures)."""
    key = (F.when((F.col(canon_col).isNotNull())
                  & (F.col(canon_col) != "")
                  & F.col(canon_col).rlike(SCHEME_RE),
                  F.col(canon_col))
           .otherwise(F.col(url_col)))
    base = df.select(key.alias("canon_key"), F.col(url_col).alias("url"),
                     F.col(ts_col).alias(ts_col))
    return (base.groupBy("canon_key")
            .agg(F.max_by(
                     F.struct(F.col("url").alias("url"),
                              F.col(ts_col).alias(ts_col)),
                     F.struct(F.col(ts_col), F.col("url"))).alias("w"),
                 F.count(F.lit(1)).cast("long").alias("n_captures"))
            .select("canon_key", F.col("w.url").alias("url"),
                    F.col(f"w.{ts_col}").alias(ts_col), "n_captures"))


# ---------- crawl politeness scheduler ----------

def crawl_schedule(frontier: DataFrame, delays: DataFrame = None,
                   url_col: str = "url",
                   priority_col: str = None,
                   default_delay_ms: int = 1000,
                   max_per_host: int = None) -> DataFrame:
    """Politeness scheduler for a crawl cycle: rank each host's
    frontier (priority DESC, url ASC — deterministic and
    partitioning-independent) and assign every URL a fetch offset of
    rank * per-host delay, so a fetcher draining the schedule in
    offset order never hits one host faster than its crawl-delay.

    delays: optional (host, delay_ms) table — e.g. robots.txt
    Crawl-delay via parse_robots — LEFT-joined per host (broadcast;
    the delay table is one row per host, MBs at worst), falling back
    to default_delay_ms. max_per_host caps how many URLs per host are
    marked scheduled this cycle (the rest stay ranked, so the next
    cycle's frontier can resume exactly where this one stopped).

    Scale shape (10^10-url frontiers): ONE exchange — the window
    partitions by host; within a partition ranking is an external
    sort, so a hot host spills rather than OOMs. If cycles are capped,
    pre-trim the frontier to ~max_per_host candidates per host with a
    cheap approximate filter BEFORE this operator when one host
    dominates the frontier (the cap is applied after exact ranking
    here, which is the correct-but-full-sort path).

    Returns (url, host, rank, delay_ms, fetch_offset_ms, scheduled).

    Reference analog: the per-device request queue pacing in
    /root/reference/src/scheduler.cc (one in-flight batch per NPU,
    FIFO within a device) lifted to per-host crawl pacing.
    """
    from pyspark.sql import Window
    from pyspark.sql.functions import broadcast

    host = authority_host(F.col(url_col)).alias("host")
    base = frontier.select(F.col(url_col).alias("url"), host,
                           *([F.col(priority_col).alias("_prio")]
                             if priority_col else []))
    order = ([F.col("_prio").desc()] if priority_col else []) \
        + [F.col("url").asc()]
    w = Window.partitionBy("host").orderBy(*order)
    ranked = base.withColumn(
        "rank", (F.row_number().over(w) - 1).cast("long"))
    if delays is not None:
        d = delays.select(F.col("host").alias("_dh"),
                          F.col("delay_ms").alias("_dms"))
        ranked = (ranked.join(broadcast(d),
                              ranked["host"] == d["_dh"], "left")
                  .drop("_dh"))
        delay = F.coalesce(F.col("_dms"),
                           F.lit(int(default_delay_ms))).cast("long")
    else:
        delay = F.lit(int(default_delay_ms)).cast("long")
    out = ranked.select(
        "url", "host", "rank", delay.alias("delay_ms"),
        (F.col("rank") * delay).cast("long").alias("fetch_offset_ms"),
        (F.lit(True) if max_per_host is None
         else (F.col("rank") < int(max_per_host))).alias("scheduled"))
    return out


# ---------- crawl-trap detection (URL-template explosion) ----------

# path templating: long hex-ish ids first (session tokens, content
# hashes — 8+ chars so ordinary words never match), then any digit
# run. Replacement markers use {}-braces, which RFC 3986 excludes
# from unencoded paths, so a marker can never collide with a literal
# path that survives templating.
TRAP_HEX_RE = r"[0-9a-f]{8,}"
TRAP_NUM_RE = r"[0-9]+"
# query param NAMES (values dropped — values are what explode):
# a leading segment or an &-separated segment, up to '=' / '&' / end
TRAP_QNAME_RE = r"(?:^|&)([^=&]+)"


def url_template(url_col):
    """Column: the URL's structural template — path with hex-ids and
    digit runs collapsed to {H}/{N} markers plus the SORTED query
    param names (values dropped). Two URLs share a template iff they
    differ only in identifier values — the equivalence class a crawl
    trap inflates."""
    if isinstance(url_col, str):
        url_col = F.col(url_col)
    path = F.regexp_extract(url_col, PATH_RE, 1)
    path = F.when(path == "", F.lit("/")).otherwise(path)
    tpl = F.regexp_replace(path, TRAP_HEX_RE, "{H}")
    tpl = F.regexp_replace(tpl, TRAP_NUM_RE, "{N}")
    q = F.regexp_extract(url_col, QUERY_RE, 1)
    qnames = F.array_join(
        F.array_sort(F.filter(
            F.regexp_extract_all(q, F.lit(TRAP_QNAME_RE), 1),
            lambda p: p != "")), ",")
    return F.when(qnames == "", tpl) \
            .otherwise(F.concat(tpl, F.lit("?"), qnames))


def crawl_traps(df: DataFrame, url_col: str = "url",
                min_urls: int = 20) -> DataFrame:
    """Per-(host, template) URL-explosion detector — the frontier
    gate against calendar pages, session-id labyrinths, and faceted-
    search blowups (infinite URL spaces under one path shape; the
    reference's analog is the per-source-shape batch accounting in
    /root/reference/server/benchmark/core/metrics.py:63-205, which
    likewise groups unbounded inputs by structural key before
    counting).

    A (host, template) group is a TRAP when it holds >= min_urls
    distinct URLs AND the template actually generalized something
    (contains a {N}/{H} marker or query params — a static page crawled
    many times is re-crawl churn, not a trap).

    Scale shape: distinct on (host, template, url) then ONE
    partial-aggregated groupBy — two keyed exchanges, no window, no
    driver state; output is template-universe-sized, never URL-sized.
    Returns (host, template, n_urls, wildcarded, is_trap)."""
    host = authority_host(F.col(url_col)).alias("host")
    tpl = url_template(F.col(url_col)).alias("template")
    base = (df.select(host, tpl, F.col(url_col).alias("_u"))
            .where(F.col("host") != "")
            .distinct())
    wild = (F.col("template").contains("{N}")
            | F.col("template").contains("{H}")
            | F.col("template").contains("?"))
    return (base.groupBy("host", "template")
            .agg(F.count(F.lit(1)).cast("long").alias("n_urls"))
            .withColumn("wildcarded", wild)
            .withColumn("is_trap",
                        wild & (F.col("n_urls") >= int(min_urls))))


def trap_hosts(traps: DataFrame, min_trap_frac: float = 0.5
               ) -> DataFrame:
    """Host rollup of crawl_traps: what fraction of a host's distinct
    URLs sit inside trap templates; hosts above min_trap_frac get the
    throttle flag a frontier scheduler consumes. Template-universe-
    sized input, host-sized output, one groupBy."""
    return (traps.groupBy("host")
            .agg(F.sum("n_urls").cast("long").alias("n_urls"),
                 F.sum(F.when(F.col("is_trap"), F.col("n_urls"))
                       .otherwise(F.lit(0))).cast("long")
                 .alias("n_trap_urls"))
            .withColumn("trap_frac",
                        F.round(F.col("n_trap_urls")
                                / F.col("n_urls"), 6))
            .withColumn("throttle",
                        F.col("trap_frac") >= float(min_trap_frac)))
