"""URL canonicalization (operators/web.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from atiesh_spark.operators.web import canonicalize_urls


def _canon(spark, url: str) -> dict:
    df = spark.createDataFrame([(1, url)], "id long, url string")
    return canonicalize_urls(df, "url").collect()[0].asDict()


def test_canonicalize_full_mess(spark):
    r = _canon(
        spark,
        "HTTPS://WWW.Example.COM:443//a//b/c/?utm_source=tw&z=9&a=1&fbclid=x#frag",
    )
    assert r["canonical_url"] == "https://example.com/a/b/c?a=1&z=9"
    assert r["host"] == "example.com"
    assert r["registered_domain"] == "example.com"
    assert r["path_canonical"] == "/a/b/c"


def test_canonicalize_ports_and_paths(spark):
    assert (
        _canon(spark, "http://x.org:80/p")["canonical_url"] == "http://x.org/p"
    )
    # non-default port kept
    assert (
        _canon(spark, "http://x.org:8080/p")["canonical_url"]
        == "http://x.org:8080/p"
    )
    # empty path -> '/', root slash kept
    assert _canon(spark, "https://x.org")["canonical_url"] == "https://x.org/"
    assert _canon(spark, "https://x.org/")["canonical_url"] == "https://x.org/"
    # all params tracking -> no query at all
    assert (
        _canon(spark, "https://x.org/p?utm_a=1&gclid=2")["canonical_url"]
        == "https://x.org/p"
    )


def test_canonicalize_subdomain_and_unparseable(spark):
    r = _canon(spark, "https://a.b.example.com/x")
    assert r["host"] == "a.b.example.com"
    assert r["registered_domain"] == "example.com"
    bad = _canon(spark, "not a url")
    assert bad["canonical_url"] is None and bad["host"] is None


def test_registered_domain_public_suffixes(spark):
    """ccSLD hosts must keep THREE labels (round 11: the embedded PSL
    snapshot) — a bbc.co.uk page previously over-aggregated to co.uk,
    merging every .co.uk site into one domain for caps and stats."""
    cases = {
        "https://www.bbc.co.uk/news": "bbc.co.uk",
        "https://shop.example.com.au/x": "example.com.au",
        "https://www.u-tokyo.ac.jp/": "u-tokyo.ac.jp",
        "https://a.b.gov.br/doc": "b.gov.br",
        # the bare suffix itself has no registrable part; last-2 rule
        # applies (documented degenerate)
        "https://co.uk/": "co.uk",
        # non-PSL two-label stays two labels even at depth
        "https://a.b.example.org/": "example.org",
    }
    for url, want in cases.items():
        assert _canon(spark, url)["registered_domain"] == want, url


def test_psl_snapshot_shape():
    """Every snapshot entry is a lowercase two-label suffix, no dups
    (within each section AND across them) — the invariant both the
    Spark InSet and the generated oracle IN-list rely on."""
    from atiesh_spark.operators.web import (
        ALL_SUFFIXES_2, PRIVATE_SUFFIXES_2, PUBLIC_SUFFIXES_2,
    )

    assert len(ALL_SUFFIXES_2) == len(set(ALL_SUFFIXES_2))
    assert set(ALL_SUFFIXES_2) == set(PUBLIC_SUFFIXES_2) | set(
        PRIVATE_SUFFIXES_2
    )
    for s in ALL_SUFFIXES_2:
        assert s == s.lower() and s.count(".") == 1 and "'" not in s


def test_private_section_registered_domains(spark):
    """r14: multi-tenant hosts split per subdomain — the behavior
    per-domain crawl caps depend on."""
    cases = {
        "https://alice.github.io/blog": "alice.github.io",
        "https://bob.github.io/": "bob.github.io",
        "https://deep.sub.netlify.app/x": "sub.netlify.app",
        "https://my.blogspot.com/p": "my.blogspot.com",
        "https://shop.myshopify.com/": "shop.myshopify.com",
        # github.com is NOT a private suffix — normal last-2 rule
        "https://gist.github.com/u": "github.com",
    }
    for url, want in cases.items():
        assert _canon(spark, url)["registered_domain"] == want, url


def test_canonicalize_is_idempotent(spark):
    urls = [
        "HTTPS://WWW.Example.COM:443//a//b/?utm_source=tw&z=9&a=1#f",
        "http://x.org:8080/p?b=2&a=1",
        "https://a.b.example.com/x",
    ]
    df = spark.createDataFrame([(i, u) for i, u in enumerate(urls)], "id long, url string")
    once = canonicalize_urls(df, "url").select(
        "id", F.col("canonical_url").alias("url")
    )
    twice = canonicalize_urls(once, "url")
    assert all(
        r["url"] == r["canonical_url"] for r in twice.collect()
    ), "canonicalization must be a fixpoint"


# ---------------------------------------------------------------------------
# extract_html_content
# ---------------------------------------------------------------------------

from atiesh_spark.operators.web import apply_robots_rules, extract_html_content


def _extract(spark, html: str) -> dict:
    df = spark.createDataFrame([(1, html)], "id long, html string")
    return extract_html_content(df, "html").collect()[0].asDict()


def test_html_extract_keeps_content_drops_chrome(spark):
    long_para = "word " * 20  # 100 chars, no links
    html = (
        '<div><a href="/">Home</a> <a href="/a">About</a></div>'
        f"<p>{long_para}</p>"
        '<div><a href="/tos">Terms</a> <a href="/p">Privacy</a></div>'
    )
    r = _extract(spark, html)
    assert r["kept_blocks"] == 1
    assert r["n_blocks"] == 3
    assert r["clean_text"] == long_para.strip()
    assert r["content_chars"] == len(long_para.strip())
    assert r["boiler_chars"] > 0


def test_html_extract_strips_script_style_with_hostile_bodies(spark):
    html = (
        "<style>p{color:red}</style>"
        '<script type="x">var a=1; if(a<2){a=2;}</script>'
        f"<p>{'content here ' * 5}</p>"
    )
    r = _extract(spark, html)
    assert r["kept_blocks"] == 1
    assert "color" not in r["clean_text"] and "var" not in r["clean_text"]


def test_html_extract_entities_decode_after_tag_strip(spark):
    # &lt;b&gt; must survive as literal text, never re-parsed as a tag
    html = "<p>x &lt;b&gt; &amp; &quot;q&quot; &#39;s&#39; y" + " pad" * 10 + "</p>"
    r = _extract(spark, html)
    assert "<b>" in r["clean_text"]
    assert "& \"q\" 's'" in r["clean_text"]


def test_html_extract_link_density_boundary_is_integer_exact(spark):
    # tag strip replaces tags with a space, so text = a's + ' ' + b's
    # = 31 chars; max 33% -> keep iff link_chars*100 <= 33*31 = 1023
    # kept: 9 link chars, 900 <= 1023
    keep = "<p>" + "a" * 21 + '<a href="/">' + "b" * 9 + "</a></p>"
    # dropped: 11 link chars, 1100 > 1023
    drop = "<p>" + "a" * 19 + '<a href="/">' + "b" * 11 + "</a></p>"
    r = _extract(spark, keep + drop)
    assert r["n_blocks"] == 2 and r["kept_blocks"] == 1
    assert r["clean_text"] == "a" * 21 + " " + "b" * 9


def test_html_extract_short_blocks_dropped(spark):
    r = _extract(spark, "<h2>Doc 7</h2><p>tiny</p>")
    assert r["n_blocks"] == 2 and r["kept_blocks"] == 0
    assert r["clean_text"] == ""


# ---------------------------------------------------------------------------
# apply_robots_rules
# ---------------------------------------------------------------------------


def _rules(spark):
    return spark.createDataFrame(
        [
            ("h", False, "/docs/"),
            ("h", True, "/docs/en"),
            ("h", False, "/*/print$"),
            ("h", False, "/pub/f1$"),
            ("h", True, "/pub/*1$"),
        ],
        "host string, allow boolean, pattern string",
    )


def _decide(spark, path: str, host: str = "h") -> dict:
    urls = spark.createDataFrame([(1, host, path)], "id long, host string, path string")
    return apply_robots_rules(urls, _rules(spark)).collect()[0].asDict()


def test_robots_longest_match_wins(spark):
    assert _decide(spark, "/docs/fr/p1")["allowed"] is False
    r = _decide(spark, "/docs/en/p1")
    assert r["allowed"] is True and r["matched_rule"] == "/docs/en"


def test_robots_wildcard_anchor_dominates(spark):
    r = _decide(spark, "/docs/en/p1/print")
    assert r["allowed"] is False and r["matched_rule"] == "/*/print$"
    # anchor means no match when more path follows
    assert _decide(spark, "/docs/en/printer")["allowed"] is True


def test_robots_length_tie_goes_to_allow(spark):
    r = _decide(spark, "/pub/f1")
    assert r["allowed"] is True and r["matched_rule"] == "/pub/*1$"


def test_robots_no_match_allows(spark):
    r = _decide(spark, "/open/x")
    assert r["allowed"] is True and r["matched_rule"] == ""
    r2 = _decide(spark, "/anything", host="unknown.host")
    assert r2["allowed"] is True and r2["matched_rule"] == ""


def test_robots_metacharacters_are_literal(spark):
    rules = spark.createDataFrame(
        [("h", False, "/a.b(c)/")], "host string, allow boolean, pattern string"
    )
    urls = spark.createDataFrame(
        [(1, "h", "/a.b(c)/x"), (2, "h", "/aXb(c)/x")],
        "id long, host string, path string",
    )
    out = {r["id"]: r["allowed"] for r in apply_robots_rules(urls, rules).collect()}
    assert out[1] is False  # literal match
    assert out[2] is True   # '.' is not a regex dot


def test_robots_differential_vs_python_reference(spark):
    """Batch differential: hundreds of metacharacter-laden patterns and
    paths decided by the in-plan Spark matcher must agree with an
    independent Python ``re`` reference of the documented semantics
    (longest pattern among matches wins; length tie -> allow; no match
    -> allowed). One Spark job for the whole grid — the point is depth
    the point-wise tests above cannot reach (hostile escapes, ``*``
    runs, ``$`` mid-pattern vs trailing, unicode), plus proof that no
    generated pattern compiles into an invalid in-plan regex."""
    import random
    import re as _re

    rng = random.Random(9309)  # the RFC number; fixed for reproducibility
    meta = list(".^$+?(){}[]\\|*/")
    alpha = list("abXé7% ~-_")

    def rand_pattern() -> str:
        n = rng.randint(1, 8)
        p = "".join(rng.choice(meta if rng.random() < 0.5 else alpha)
                    for _ in range(n))
        return "/" + p if rng.random() < 0.7 else p

    patterns = sorted({rand_pattern() for _ in range(150)})
    paths = sorted({rand_pattern() + rand_pattern() for _ in range(80)})
    rules_rows = [
        ("h", rng.random() < 0.5, p) for p in patterns
    ]

    def ref_decide(path: str):
        best = None
        for _, allow, pat in rules_rows:
            anchored = pat.endswith("$")
            body = pat[:-1] if anchored else pat
            rx = "^" + _re.sub(
                r"([.^$+?(){}\[\]\\|])", r"\\\1", body
            ).replace("*", ".*") + ("$" if anchored else "")
            if _re.search(rx, path):
                # struct-comparison key used by array_max on the Spark
                # side: (length, allow-as-int, pattern)
                key = (len(pat), int(allow), pat)
                if best is None or key > best[0]:
                    best = (key, allow, pat)
        if best is None:
            return True, ""
        return best[1], best[2]

    rules = spark.createDataFrame(
        rules_rows, "host string, allow boolean, pattern string"
    )
    urls = spark.createDataFrame(
        [(i, "h", p) for i, p in enumerate(paths)],
        "id long, host string, path string",
    )
    got = {
        r["id"]: (r["allowed"], r["matched_rule"])
        for r in apply_robots_rules(urls, rules).collect()
    }
    want = {i: ref_decide(p) for i, p in enumerate(paths)}
    diffs = {
        i: (paths[i], got[i], want[i])
        for i in want if got[i] != want[i]
    }
    assert not diffs, f"{len(diffs)} disagreements, e.g. {list(diffs.items())[:3]}"


def test_robots_text_parser_total_on_hostile_bodies():
    """_parse_robots_text is reached by mapInPandas over fetched crawl
    bytes — arbitrary text must parse to (bool, non-empty-str) rules,
    never raise: one escaping exception would kill the whole Arrow
    batch on the cluster. Pure Python, so hypothesis drives it
    directly (no per-example Spark job)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from atiesh_spark.operators.web import _parse_robots_text

    lineish = st.text(
        alphabet=st.sampled_from(
            list("Uuser-agent:AlowDisc/*$#\t \r\nxé%")
        ),
        max_size=200,
    )

    @settings(max_examples=500, deadline=None)
    @given(lineish, st.sampled_from(["*", "crawler", "a b"]))
    def check(body, agent):
        rules = _parse_robots_text(body, agent)
        assert isinstance(rules, list)
        for allow, pattern in rules:
            assert isinstance(allow, bool)
            assert isinstance(pattern, str) and pattern

    check()


# ---------------------------------------------------------------------------
# StreamingCrawlIngest (round 10): the q235 chain as a maintenance loop


class TestStreamingCrawlIngest:
    @staticmethod
    def _blobs(spark, n_docs: int = 12):
        import pandas as pd

        from atiesh_spark.sources.warc import encode_warc_records

        def page(d: int) -> bytes:
            body = (f"<html><body><p>Document {d} has plenty of "
                    f"prose words here to pass the gopher gate and "
                    f"then some more unique text {d * 13} with extra "
                    f"varied content for entropy {d * 31} indeed "
                    f"absolutely positively truly.</p></body></html>")
            return body.encode("utf-8")

        rows = []
        for shard in range(4):
            recs = [
                (f"https://h{d % 2}.example.com/p{d}", page(d))
                for d in range(n_docs) if d % 4 == shard
            ]
            rows.append((shard, bytearray(encode_warc_records(recs))))
        return spark.createDataFrame(rows, "warc_shard long, blob binary")

    def test_prefix_equals_one_shot_and_replay_converges(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from atiesh_spark.operators.web import (
            StreamingCrawlIngest,
            crawl_verdict_rows,
        )

        rules = spark.createDataFrame(
            [("h0.example.com", False, "/p2$")],
            "host string, allow boolean, pattern string",
        )
        blobs = self._blobs(spark).localCheckpoint()

        def one_shot(df):
            return sorted(
                tuple(r) for r in crawl_verdict_rows(df, rules)
                .groupBy("host", "reason")
                .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                     F.sum(F.col("repaired").cast("long")).cast("long")
                     .alias("n_repaired"),
                     F.sum("cc").cast("long").alias("content_chars"))
                .collect()
            )

        ingest = StreamingCrawlIngest(str(tmp_path / "store"), rules)
        for i in range(4):
            ingest(blobs.filter(F.col("warc_shard") == i), i + 1)
            # after EVERY prefix the store equals the one-shot report
            # over the shards seen so far (monoid additivity)
            got = sorted(tuple(r) for r in ingest.read(spark).collect())
            want = one_shot(blobs.filter(F.col("warc_shard") <= i))
            assert got == want, f"prefix {i}"
        # replay the final batch under the same id: must converge
        ingest(blobs.filter(F.col("warc_shard") == 3), 4)
        got = sorted(tuple(r) for r in ingest.read(spark).collect())
        assert got == one_shot(blobs)
        # the robots rule actually fired (h0 has a disallowed page)
        assert any(r[1] == "robots" for r in got), got


class TestParseRobots:
    """parse_robots_rules (round 10): RFC 9309 group semantics."""

    def test_group_semantics(self):
        from atiesh_spark.operators.web import _parse_robots_text as p

        t0 = "User-agent: *\nDisallow: /private/\nAllow: /private/pub$\n"
        assert p(t0, "atieshbot") == [(False, "/private/"),
                                      (True, "/private/pub$")]
        # a specific group fully displaces the wildcard group
        t1 = ("User-agent: atieshbot\nDisallow: /bot3/\n\n"
              "User-agent: *\nDisallow: /\n")
        assert p(t1, "atieshbot") == [(False, "/bot3/")]
        assert p(t1, "otherbot") == [(False, "/")]
        # case-insensitive fields/agents, comments, unknown fields
        # mid-group do not end the group
        t2 = ("# hi\nUser-Agent: AtieshBot\nDisallow: /x2 # inline\n"
              "Crawl-delay: 3\nDisallow: /y\n")
        assert p(t2, "atieshbot") == [(False, "/x2"), (False, "/y")]
        # shared UA run; EMPTY Disallow emits no rule (allow-all)
        t3 = ("User-agent: foo\nUser-agent: atieshbot\n"
              "Disallow:\nAllow: /a1/\n")
        assert p(t3, "atieshbot") == [(True, "/a1/")]
        # multiple matching groups merge, file order preserved
        t4 = ("User-agent: atieshbot\nDisallow: /a\n\n"
              "User-agent: atieshbot\nAllow: /b\n")
        assert p(t4, "atieshbot") == [(False, "/a"), (True, "/b")]
        # a new user-agent run AFTER rules starts a new group
        t5 = ("User-agent: *\nDisallow: /one\n"
              "User-agent: zbot\nDisallow: /two\n")
        assert p(t5, "atieshbot") == [(False, "/one")]
        assert p(t5, "zbot") == [(False, "/two")]
        # no matching group at all -> no rules -> allow-all downstream
        assert p("User-agent: zbot\nDisallow: /\n", "atieshbot") == []

    def test_spark_parse_and_apply_composition(self, spark):
        """Bodies -> rules -> admission, end to end: the full chain a
        crawler runs (fetch robots, PARSE, apply)."""
        from pyspark.sql import functions as F

        from atiesh_spark.operators.web import (
            apply_robots_rules,
            parse_robots_rules,
        )

        robots = spark.createDataFrame(
            [("a.com", "User-agent: *\nDisallow: /priv/\n"
                       "Allow: /priv/ok$\n"),
             ("b.com", "User-agent: crawler\nDisallow: /\n"),
             ("c.com", None)],  # unfetchable robots: allow-all
            "host string, body string",
        )
        rules = parse_robots_rules(robots, "host", "body", "crawler")
        got = sorted(tuple(r) for r in rules.collect())
        assert got == [("a.com", 0, False, "/priv/"),
                       ("a.com", 1, True, "/priv/ok$"),
                       ("b.com", 0, False, "/")]
        urls = spark.createDataFrame(
            [("a.com", "/priv/x"), ("a.com", "/priv/ok"),
             ("a.com", "/pub"), ("b.com", "/any"), ("c.com", "/any")],
            "host string, path string",
        )
        verdicts = {
            (r.host, r.path): r.allowed
            for r in apply_robots_rules(urls, rules).collect()
        }
        assert verdicts == {("a.com", "/priv/x"): False,
                            ("a.com", "/priv/ok"): True,
                            ("a.com", "/pub"): True,
                            ("b.com", "/any"): False,
                            ("c.com", "/any"): True}


def test_extract_kernel_equals_jvm_expressions(spark):
    """r15: extract_html_content became an Arrow kernel (measured ~2x
    the expression stage at equal width); the retained JVM expression
    path is its differential oracle. Hostile fixtures: script with a
    literal '<', entity-only block, boundary-exact link density, null
    and empty html, mojibake-repaired unicode."""
    from atiesh_spark.operators.web import _extract_html_content_jvm

    rows = [
        (1, '<div><a href="/">Home</a></div><p>' + "word " * 20 + "</p>"),
        (2, '<script>if(a<2){a=2}</script><p>' + "content here " * 5 + "</p>"),
        (3, "<p>x &lt;b&gt; &amp; &quot;q&quot; &#39;s&#39; y" + " pad" * 10 + "</p>"),
        (4, "<p>" + "a" * 21 + '<a href="/">' + "b" * 9 + "</a></p>"),
        (5, "<p>" + "a" * 19 + '<a href="/">' + "b" * 11 + "</a></p>"),
        (6, None),
        (7, ""),
        (8, "café “quoted” € <p>" + "tail " * 10 + "</p>"),
        (9, "<TD>upper case closer" + " pad" * 10 + "</TD><p>x</p>"),
    ]
    df = spark.createDataFrame(rows, "id long, html string")
    cols = ["id", "clean_text", "n_blocks", "kept_blocks",
            "content_chars", "boiler_chars"]
    kern = sorted(
        tuple(r) for r in
        __import__("atiesh_spark.operators.web", fromlist=["web"])
        .extract_html_content(df, "html").select(cols).collect()
    )
    jvm = sorted(
        tuple(r) for r in
        _extract_html_content_jvm(df, "html").select(cols).collect()
    )
    assert kern == jvm
