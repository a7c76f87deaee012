"""URL canonicalization: policy unit cases, Spark<->DuckDB expression
parity (the oracle is generated from the same module), zero-shuffle
plan pin."""

import duckdb
import pytest

from dxnn_ocr_cpp_spark.operators.urls import canonical_url, oracle_url_sql

CASES = [
    # (input, expected canonical)
    ("HTTPS://Host.Example.org:443/p?b=2&a=1&utm_source=x#frag",
     "https://host.example.org/p?a=1&b=2"),
    ("http://a.example.com:80/", "http://a.example.com/"),
    ("http://a.example.com:8080/x?z=1&z=0",
     "http://a.example.com:8080/x?z=0&z=1"),      # non-default port kept
    ("https://example.com", "https://example.com/"),
    ("https://example.com/path/?utm_campaign=c&fbclid=abc",
     "https://example.com/path/"),                # emptied query drops '?'
    ("ftp://Example.Com:21/file", "ftp://example.com:21/file"),
    ("not a url at all", "not a url at all"),     # unparseable -> unchanged
    ("//protocol-relative.example/x", "//protocol-relative.example/x"),
    (None, None),                                 # null-safe
    ("https://example.com/a?&&a=1&", "https://example.com/a?a=1"),
    ("http://user@Host.com:80/p#f", "http://user@host.com/p"),
    ("http://h.com:80", "http://h.com/"),
    ("https://h.com:443?a=1", "https://h.com/?a=1"),
    ("http://h.com/p?gclid=1#x", "http://h.com/p"),
    ("https://h.com/CasePreserved/Path?K=V", "https://h.com/CasePreserved/Path?K=V"),
]


@pytest.fixture(scope="module")
def results(spark):
    df = spark.createDataFrame([(c,) for c, _ in CASES], "url string") \
              .select("url", canonical_url("url").alias("canon"))
    return df, {r["url"]: r["canon"] for r in df.collect()}


def test_policy_cases(results):
    _, got = results
    for url, want in CASES:
        assert got[url] == want, f"{url!r}: {got[url]!r} != {want!r}"


def test_duckdb_twin_parity(results):
    _, got = results
    con = duckdb.connect()
    con.execute("CREATE TABLE t(url VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?)", [(c,) for c, _ in CASES])
    oracle = dict(
        con.execute(f"SELECT url, {oracle_url_sql('url')} FROM t").fetchall())
    for url, _ in CASES:
        assert got[url] == oracle[url], \
            f"{url!r}: spark {got[url]!r} != duckdb {oracle[url]!r}"


def test_zero_shuffle_plan(results):
    df, _ = results
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Python" not in plan    # pure Catalyst, no UDF hop


class TestBlocklist:
    BLOCK = ["spam.example", "tracker.net", "bad.org"]

    @pytest.fixture(scope="class")
    def frames(self, spark):
        urls = [
            (0, "https://spam.example/p"),            # exact
            (1, "https://a.b.spam.example:8080/p"),   # deep subdomain+port
            (2, "http://user@Tracker.NET/x"),         # case + userinfo
            (3, "https://notspam.example/p"),         # suffix must align
            (4, "https://example.org/fine"),          # bad.org != *.org
            (5, "https://deep.bad.org/p"),
            (6, "https://clean.site/p"),
        ]
        df = spark.createDataFrame(urls, "doc_id long, url string")
        bl = spark.createDataFrame([(d,) for d in self.BLOCK],
                                   "domain string")
        return df, bl

    def test_flagging(self, spark, frames):
        from dxnn_ocr_cpp_spark.operators.urls import flag_blocked
        df, bl = frames
        got = {r["doc_id"]: r["blocked"]
               for r in flag_blocked(df, bl).collect()}
        assert got == {0: True, 1: True, 2: True, 3: False,
                       4: False, 5: True, 6: False}

    def test_filter_preserves_schema(self, spark, frames):
        from dxnn_ocr_cpp_spark.operators.urls import filter_blocklist
        df, bl = frames
        out = filter_blocklist(df, bl)
        assert out.columns == df.columns
        assert {r["doc_id"] for r in out.collect()} == {3, 4, 6}

    def test_deep_host_beyond_max_labels(self, spark, frames):
        # 10-label host must still match a 2-label blocklist entry
        from dxnn_ocr_cpp_spark.operators.urls import flag_blocked
        _, bl = frames
        df = spark.createDataFrame(
            [(0, "https://" + ".".join("abcdefgh") + ".spam.example/p")],
            "doc_id long, url string")
        assert flag_blocked(df, bl).first()["blocked"] is True

    def test_broadcast_only_plan(self, spark, frames):
        from dxnn_ocr_cpp_spark.operators.urls import flag_blocked
        df, bl = frames
        plan = flag_blocked(df, bl)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "SortMergeJoin" not in plan
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


class TestRobotsGate:
    @pytest.fixture(scope="class")
    def rules(self, spark):
        return spark.createDataFrame(
            [("ex.org", "/", True),
             ("ex.org", "/priv", False),
             ("ex.org", "/priv/pub", True),
             ("tie.org", "/a", True),
             ("tie.org", "/a", False)],
            "host string, prefix string, allow boolean")

    def _gate(self, spark, rules, urls):
        from dxnn_ocr_cpp_spark.operators.urls import robots_gate
        df = spark.createDataFrame([(u,) for u in urls], "url string")
        return {r["url"]: r["allowed"]
                for r in robots_gate(df, rules).collect()}

    def test_longest_match_wins(self, spark, rules):
        got = self._gate(spark, rules, [
            "https://ex.org/ok",             # '/' allow
            "https://ex.org/priv/x",         # '/priv' disallow
            "https://ex.org/priv/pub/x",     # '/priv/pub' allow (longest)
        ])
        assert got == {"https://ex.org/ok": True,
                       "https://ex.org/priv/x": False,
                       "https://ex.org/priv/pub/x": True}

    def test_tie_breaks_to_allow_and_no_rules_pass(self, spark, rules):
        got = self._gate(spark, rules, [
            "https://tie.org/a/x",     # equal-length allow+disallow
            "https://other.net/any",   # host with no rules
            "https://ex.org",          # empty path -> '/' -> allow
        ])
        assert got == {"https://tie.org/a/x": True,
                       "https://other.net/any": True,
                       "https://ex.org": True}

    def test_single_broadcast_join_no_corpus_shuffle(self, spark, rules):
        from dxnn_ocr_cpp_spark.operators.urls import robots_gate
        df = spark.createDataFrame([("https://ex.org/priv/a",)],
                                   "url string")
        plan = robots_gate(df, rules)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan
        assert "CartesianProduct" not in plan


class TestParseRobots:
    """Grammar pins for the raw robots.txt -> rules-table fold."""

    TXT = (
        "# global rules\n"
        "User-agent: *\n"
        "Disallow: /private/\n"
        "Allow: /private/ok  # carve-out\n"
        "\n"
        "User-agent: googlebot\n"
        "User-agent: bingbot\n"
        "Disallow: /tmp/\n"
        "Crawl-delay: 5\n"
        "Disallow:\n"
        "Disallow: /after-empty\n"
        "User-agent: tail-no-rules\n"
    )

    def _parse(self, spark, txt):
        from dxnn_ocr_cpp_spark.operators.urls import parse_robots
        df = spark.createDataFrame([("ex.com", txt)],
                                   "host string, robots_txt string")
        return [tuple(r) for r in parse_robots(df).collect()]

    def test_groups_agents_rules(self, spark):
        got = self._parse(spark, self.TXT)
        assert got == [
            ("ex.com", "*", False, "/private/"),
            ("ex.com", "*", True, "/private/ok"),      # comment stripped
            ("ex.com", "googlebot", False, "/tmp/"),   # multi-UA group
            ("ex.com", "bingbot", False, "/tmp/"),
            # empty 'Disallow:' emitted nothing; the following rule
            # still belongs to the same (googlebot, bingbot) agents
            ("ex.com", "googlebot", False, "/after-empty"),
            ("ex.com", "bingbot", False, "/after-empty"),
            # trailing UA with no rules emits nothing
        ]

    def test_all_empty_group_does_not_leak_agents(self, spark):
        txt = ("User-agent: a\nDisallow:\n"
               "User-agent: b\nDisallow: /x\n")
        assert self._parse(spark, txt) == [("ex.com", "b", False, "/x")]

    def test_rules_before_any_ua_dropped(self, spark):
        txt = "Disallow: /orphan\nUser-agent: a\nAllow: /ok\n"
        assert self._parse(spark, txt) == [("ex.com", "a", True, "/ok")]

    def test_case_insensitive_fields(self, spark):
        txt = "USER-AGENT: A\nDISALLOW: /x\nallow: /y\n"
        assert self._parse(spark, txt) == [
            ("ex.com", "A", False, "/x"), ("ex.com", "A", True, "/y")]

    def test_plan_zero_shuffle_zero_python(self, spark):
        from dxnn_ocr_cpp_spark.operators.urls import parse_robots
        df = spark.createDataFrame([("ex.com", self.TXT)],
                                   "host string, robots_txt string")
        plan = parse_robots(df)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "Exchange" not in plan and "Python" not in plan

    def test_feeds_robots_gate(self, spark):
        """End-to-end: parse_robots output drives robots_gate."""
        from dxnn_ocr_cpp_spark.operators.urls import (parse_robots,
                                                       robots_gate)
        rules_df = spark.createDataFrame(
            [("ex.com", "User-agent: *\nDisallow: /private/\n"
                        "Allow: /private/ok\n")],
            "host string, robots_txt string")
        rules = parse_robots(rules_df).select("host", "prefix", "allow")
        urls = spark.createDataFrame(
            [(1, "https://ex.com/private/x"),
             (2, "https://ex.com/private/ok"),
             (3, "https://ex.com/pub"),
             (4, "https://other.com/private/x")], "id long, url string")
        got = {r.id: r.allowed
               for r in robots_gate(urls, rules).collect()}
        assert got == {1: False, 2: True, 3: True, 4: True}


# ---------- property fuzz: parse_robots vs a sequential reference ----

import re as _re

from hypothesis import given, settings
from hypothesis import strategies as _st


def _ref_parse_robots(txt):
    """Sequential pure-Python replay of parse_robots' documented
    semantics — the independent reference the Catalyst fold must
    match on ANY line soup (the bpe.py sequential-reference
    discipline)."""
    ag, run, out = [], False, []
    for raw in txt.split("\n"):
        ln = _re.sub("#.*$", "", raw).strip()
        m_ua = _re.match(r"(?i)^user-agent:\s*(\S+)\s*$", ln)
        m_rule = _re.match(r"(?i)^(allow|disallow):\s*(\S*)\s*$", ln)
        if m_ua:
            ag = ag + [m_ua.group(1)] if run else [m_ua.group(1)]
            run = True
        elif m_rule:
            run = False
            if m_rule.group(2):
                out.extend((a, m_rule.group(1).lower() == "allow",
                            m_rule.group(2)) for a in ag)
    return out


_tok = _st.sampled_from(["*", "bot", "crawler", "A-1", "x"])
_path = _st.sampled_from(["/", "/a", "/a/b", "/p%20x", ""])
_line = _st.one_of(
    _tok.map(lambda t: f"User-agent: {t}"),
    _tok.map(lambda t: f"USER-AGENT:   {t}"),
    _st.tuples(_st.sampled_from(["Allow", "Disallow", "allow"]),
               _path).map(lambda kv: f"{kv[0]}: {kv[1]}"),
    _path.map(lambda p: f"Disallow: {p} # trailing"),
    _st.sampled_from(["", "   ", "# comment", "Crawl-delay: 5",
                      "Sitemap: https://ex.com/s.xml", "garbage line",
                      "User-agent:", "Allow :/x"]),
)
_doc = _st.lists(_line, max_size=25).map("\n".join)


class TestParseRobotsFuzz:
    @settings(max_examples=12, deadline=None)
    @given(_st.lists(_doc, min_size=1, max_size=20))
    def test_fold_matches_sequential_reference(self, spark, docs):
        from dxnn_ocr_cpp_spark.operators.urls import parse_robots
        df = spark.createDataFrame(
            [(f"h{i}", d) for i, d in enumerate(docs)],
            "host string, robots_txt string")
        got = {}
        for r in parse_robots(df).collect():
            got.setdefault(r.host, []).append(
                (r.agent, r.allow, r.prefix))
        for i, d in enumerate(docs):
            assert got.get(f"h{i}", []) == _ref_parse_robots(d), (
                f"doc {i}: {d!r}")


class TestCrawlSchedule:
    @pytest.fixture(scope="class")
    def sched(self, spark):
        from dxnn_ocr_cpp_spark.operators.urls import crawl_schedule
        frontier = spark.createDataFrame(
            [("https://a.org/p1", 5), ("https://a.org/p2", 9),
             ("https://a.org/p3", 9), ("https://b.org/x", 1),
             ("https://b.org/y", 2), ("https://c.org/only", 0)],
            "url string, prio long")
        delays = spark.createDataFrame(
            [("a.org", 2000), ("c.org", 100)],
            "host string, delay_ms long")
        out = crawl_schedule(frontier, delays, priority_col="prio",
                             default_delay_ms=500, max_per_host=2)
        return {r["url"]: r for r in out.collect()}

    def test_priority_desc_url_asc_rank(self, sched):
        # a.org: p2 (9) < p3 (9, url tiebreak) < p1 (5)
        assert sched["https://a.org/p2"]["rank"] == 0
        assert sched["https://a.org/p3"]["rank"] == 1
        assert sched["https://a.org/p1"]["rank"] == 2

    def test_offsets_use_per_host_delay(self, sched):
        assert sched["https://a.org/p3"]["fetch_offset_ms"] == 2000
        assert sched["https://a.org/p1"]["fetch_offset_ms"] == 4000
        # b.org falls back to the default delay; y outranks x (prio 2>1)
        assert sched["https://b.org/x"]["delay_ms"] == 500
        assert sched["https://b.org/y"]["fetch_offset_ms"] == 0
        assert sched["https://b.org/x"]["fetch_offset_ms"] == 500

    def test_cycle_cap_marks_overflow_unscheduled(self, sched):
        assert sched["https://a.org/p2"]["scheduled"]
        assert sched["https://a.org/p3"]["scheduled"]
        assert not sched["https://a.org/p1"]["scheduled"]
        assert sched["https://c.org/only"]["scheduled"]

    def test_no_priority_no_delays_defaults(self, spark):
        from dxnn_ocr_cpp_spark.operators.urls import crawl_schedule
        frontier = spark.createDataFrame(
            [("https://z.org/b",), ("https://z.org/a",)],
            "url string")
        got = {r["url"]: r for r in
               crawl_schedule(frontier, default_delay_ms=250).collect()}
        assert got["https://z.org/a"]["rank"] == 0
        assert got["https://z.org/b"]["fetch_offset_ms"] == 250
        assert all(r["scheduled"] for r in got.values())

    def test_one_exchange_and_broadcast_delays(self, spark):
        from dxnn_ocr_cpp_spark.operators.urls import crawl_schedule
        frontier = spark.createDataFrame(
            [("https://a.org/%d" % i, i % 3) for i in range(30)],
            "url string, prio long")
        delays = spark.createDataFrame([("a.org", 100)],
                                       "host string, delay_ms long")
        out = crawl_schedule(frontier, delays, priority_col="prio")
        plan = out._jdf.queryExecution().executedPlan().toString()
        n_ex = plan.count("Exchange") - plan.count("BroadcastExchange")
        assert n_ex <= 1, plan
        assert "BroadcastHashJoin" in plan or "BroadcastNestedLoop" \
            not in plan


class TestRobotsSitemaps:
    def _rows(self, spark, txt):
        from dxnn_ocr_cpp_spark.operators.urls import robots_sitemaps
        df = spark.createDataFrame([("h.ex", txt)],
                                   "host string, robots_txt string")
        return sorted(r["sitemap_url"]
                      for r in robots_sitemaps(df).collect())

    def test_basic_and_case_insensitive(self, spark):
        got = self._rows(spark, "User-agent: *\nDisallow: /x\n"
                                "Sitemap: https://h.ex/a.xml\n"
                                "sitemap:https://h.ex/b.xml\n"
                                "SITEMAP:   https://h.ex/c.xml   \n")
        assert got == ["https://h.ex/a.xml", "https://h.ex/b.xml",
                       "https://h.ex/c.xml"]

    def test_relative_dropped_comments_stripped(self, spark):
        got = self._rows(spark,
                         "Sitemap: /rel.xml\n"
                         "Sitemap: https://h.ex/a.xml # note\n"
                         "# Sitemap: https://h.ex/commented.xml\n")
        assert got == ["https://h.ex/a.xml"]

    def test_duplicates_collapse(self, spark):
        got = self._rows(spark, "Sitemap: https://h.ex/a.xml\n"
                                "Sitemap: https://h.ex/a.xml\n")
        assert got == ["https://h.ex/a.xml"]

    def test_no_directive_no_rows(self, spark):
        assert self._rows(spark, "User-agent: *\nDisallow: /\n") == []

    def test_plan_pure_catalyst(self, spark):
        from dxnn_ocr_cpp_spark.operators.urls import robots_sitemaps
        df = spark.createDataFrame([("h.ex", "Sitemap: https://h.ex/a")],
                                   "host string, robots_txt string")
        plan = (robots_sitemaps(df)
                ._jdf.queryExecution().executedPlan().toString())
        assert "Exchange" not in plan
        assert "ArrowEvalPython" not in plan


class TestCanonicalCollapse:
    def _df(self, spark, rows):
        return spark.createDataFrame(
            rows, "url string, canonical_url string, ts long")

    def test_collapse_latest_wins(self, spark):
        from dxnn_ocr_cpp_spark.operators.urls import canonical_collapse
        df = self._df(spark, [
            ("https://m.ex/a?amp=1", "https://c.ex/a", 10),
            ("https://m.ex/a", "https://c.ex/a", 20),
            ("https://m.ex/b", "", 5),              # self key
            ("https://m.ex/c", "/relative", 7),     # ignored -> self
            ("https://m.ex/d", None, 9),            # null -> self
        ])
        got = {r["canon_key"]: r for r in
               canonical_collapse(df, ts_col="ts").collect()}
        assert got["https://c.ex/a"]["url"] == "https://m.ex/a"
        assert got["https://c.ex/a"]["ts"] == 20
        assert got["https://c.ex/a"]["n_captures"] == 2
        assert got["https://m.ex/b"]["n_captures"] == 1
        assert "https://m.ex/c" in got and "https://m.ex/d" in got

    def test_tie_breaks_on_url(self, spark):
        from dxnn_ocr_cpp_spark.operators.urls import canonical_collapse
        df = self._df(spark, [
            ("https://m.ex/a1", "https://c.ex/a", 10),
            ("https://m.ex/a2", "https://c.ex/a", 10),
        ])
        r = canonical_collapse(df, ts_col="ts").collect()[0]
        assert r["url"] == "https://m.ex/a2"     # larger string wins

    def test_one_exchange_no_window(self, spark):
        from dxnn_ocr_cpp_spark.operators.urls import canonical_collapse
        df = self._df(spark, [("https://m.ex/a", "", 1)])
        plan = (canonical_collapse(df, ts_col="ts")
                ._jdf.queryExecution().executedPlan().toString())
        assert plan.count("Exchange") <= 1
        assert "Window" not in plan


class TestCrawlTraps:
    def _df(self, spark, urls):
        return spark.createDataFrame([(u,) for u in urls], "url string")

    def test_templates(self, spark):
        from dxnn_ocr_cpp_spark.operators.urls import url_template
        df = self._df(spark, [
            "https://h.ex/cal/2024/03/15",
            "https://h.ex/s/deadbeef01",
            "https://h.ex/about",
            "https://h.ex/",
            "https://h.ex/p?b=2&a=1&sid=xyz",
            "https://h.ex/x?&=v",          # degenerate params
        ])
        got = [r["t"] for r in
               df.select(url_template("url").alias("t")).collect()]
        assert got[0] == "/cal/{N}/{N}/{N}"
        assert got[1] == "/s/{H}"          # hex id, not digit runs
        assert got[2] == "/about"
        assert got[3] == "/"
        assert got[4] == "/p?a,b,sid"      # sorted names, values gone
        assert got[5] == "/x"              # nameless params drop whole

    def test_trap_flagging(self, spark):
        from dxnn_ocr_cpp_spark.operators.urls import crawl_traps
        urls = [f"https://t.ex/cal/2024/{m}/{d}"
                for m in range(1, 6) for d in range(1, 6)]   # 25 urls
        urls += ["https://t.ex/about", "https://t.ex/about",  # dupe
                 "https://ok.ex/a/1", "https://ok.ex/a/2"]    # few
        got = {(r["host"], r["template"]): r for r in
               crawl_traps(self._df(spark, urls), min_urls=20).collect()}
        trap = got[("t.ex", "/cal/{N}/{N}/{N}")]
        assert trap["n_urls"] == 25 and trap["is_trap"]
        about = got[("t.ex", "/about")]
        assert about["n_urls"] == 1          # distinct folds the dupe
        assert not about["wildcarded"] and not about["is_trap"]
        small = got[("ok.ex", "/a/{N}")]
        assert small["wildcarded"] and not small["is_trap"]

    def test_static_explosion_not_trap(self, spark):
        # many urls under one host but each its own literal template:
        # no generalization -> no trap rows
        from dxnn_ocr_cpp_spark.operators.urls import crawl_traps
        urls = [f"https://s.ex/page-x{'y' * (i % 3)}z{chr(97 + i % 26)}"
                for i in range(30)]
        traps = crawl_traps(self._df(spark, urls), min_urls=5).collect()
        assert not any(r["is_trap"] for r in traps)

    def test_host_rollup(self, spark):
        from dxnn_ocr_cpp_spark.operators.urls import (crawl_traps,
                                                       trap_hosts)
        urls = [f"https://t.ex/cal/2024/{i}" for i in range(30)]
        urls += ["https://t.ex/about"]
        hosts = {r["host"]: r for r in trap_hosts(
            crawl_traps(self._df(spark, urls), min_urls=20),
            min_trap_frac=0.5).collect()}
        t = hosts["t.ex"]
        assert t["n_urls"] == 31 and t["n_trap_urls"] == 30
        assert t["throttle"]

    def test_two_exchanges_no_window(self, spark):
        from dxnn_ocr_cpp_spark.operators.urls import crawl_traps
        plan = (crawl_traps(self._df(spark, ["https://h.ex/a"]))
                ._jdf.queryExecution().executedPlan().toString())
        assert plan.count("Exchange") <= 2
        assert "Window" not in plan and "PythonUDF" not in plan


class TestUrlWordlistScore:
    WW = [("badalpha", 1.0), ("riskbeta", 0.4)]

    def _score(self, spark, url):
        from dxnn_ocr_cpp_spark.operators.urls import url_wordlist_score
        df = spark.createDataFrame([(url,)], "url string")
        r = url_wordlist_score(df, self.WW).collect()[0]
        return r["url_word_score"], r["url_word_blocked"]

    def test_plain_hit_and_threshold(self, spark):
        assert self._score(spark, "https://x.org/badalpha") == (1.0, True)
        assert self._score(spark, "https://x.org/riskbeta") == (0.4, False)
        assert self._score(
            spark, "https://x.org/riskbeta/badalpha") == (1.4, True)

    def test_obfuscation_separators_stripped(self, spark):
        # '-', '.', '_', '%' hide nothing from the normalized probe
        for u in ("https://x.org/b-a-d-a-l-p-h-a",
                  "https://x.org/b.a.d.a.l.p.h.a",
                  "https://x.org/b_a_d_alpha",
                  "https://x.org/bad%alpha"):
            assert self._score(spark, u) == (1.0, True)

    def test_presence_not_count(self, spark):
        assert self._score(
            spark, "https://x.org/badalpha/badalpha") == (1.0, True)

    def test_clean_url_scores_zero(self, spark):
        assert self._score(spark, "https://example.org/page/1") \
            == (0.0, False)

    def test_guards(self, spark):
        from dxnn_ocr_cpp_spark.operators.urls import url_wordlist_score
        df = spark.createDataFrame([("u",)], "url string")
        with pytest.raises(ValueError, match="empty"):
            url_wordlist_score(df, [(" ", 1.0)])
        with pytest.raises(ValueError, match="1000"):
            url_wordlist_score(df, [(f"w{i}", 1.0) for i in range(1001)])
        # an entry that is ONLY separator chars normalizes to '' and
        # would match every URL — reject loudly
        with pytest.raises(ValueError, match="normalization"):
            url_wordlist_score(df, [("-._", 1.0)])

    def test_entries_colliding_under_normalization_raise(self, spark):
        # 'bad-word' and 'bad.word' both probe as 'badword': summing
        # both weights on one occurrence would break presence semantics
        from dxnn_ocr_cpp_spark.operators.urls import url_wordlist_score
        df = spark.createDataFrame([("u",)], "url string")
        with pytest.raises(ValueError, match="collide"):
            url_wordlist_score(df, [("bad-word", 1.0), ("bad.word", 0.5)])

    def test_entries_normalized_like_urls(self, spark):
        # an entry written with separators ('bad-alpha', 'bad.alpha')
        # must probe as its normalized form instead of silently
        # contributing 0 (the URL side strips [-._%] before probing)
        from dxnn_ocr_cpp_spark.operators.urls import url_wordlist_score
        df = spark.createDataFrame(
            [("https://x.org/badalpha",)], "url string")
        for entry in ("bad-alpha", "bad.alpha", "bad_alpha", "Bad-Alpha"):
            r = url_wordlist_score(df, [(entry, 1.0)]).collect()[0]
            assert (r["url_word_score"], r["url_word_blocked"]) \
                == (1.0, True), entry

    def test_zero_shuffle_plan(self, spark):
        from dxnn_ocr_cpp_spark.operators.urls import url_wordlist_score
        df = spark.createDataFrame([("u",)], "url string")
        plan = url_wordlist_score(df, self.WW) \
            ._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
