"""Web/crawl hygiene operators: URL canonicalization and domain stats.

The first step of every crawl-derived training pipeline: raw URLs for
the same page differ in scheme case, ``www.`` prefixes, default ports,
tracking parameters, parameter order, duplicate/trailing slashes, and
fragments — so URL-keyed dedup, per-domain caps (``sampling.
per_source_cap``) and domain mixing all need a CANONICAL url first.
CommonCrawl/C4-style pipelines do exactly this before anything else.

All row-local codegen (regexp_extract / split / array_sort — no Python
UDFs, no shuffles): canonicalization of 100 TB of URLs is a free rider
on whatever scan reads the rows. The canonical form:

1. scheme and host lowercased;
2. leading ``www.`` stripped from the host;
3. default ports stripped (``:80`` for http, ``:443`` for https);
   non-default ports kept;
4. fragment dropped;
5. tracking parameters dropped (``utm_*``, ``fbclid``, ``gclid``,
   ``ref``, ``mc_eid`` — the ubiquitous analytics set);
6. remaining query parameters sorted byte-order (order never
   distinguishes resources in practice, but DOES break exact-match
   dedup);
7. duplicate slashes in the path collapsed, trailing slash dropped,
   empty path normalized to ``/``.

``registered_domain`` is the last two host labels, EXCEPT when those
two labels are themselves a public suffix (``co.uk``, ``com.au``,
``github.io``, …), in which case the last three are kept. The suffix
set is ``ALL_SUFFIXES_2`` below — ``PUBLIC_SUFFIXES_2`` (a frozen
snapshot of ~800 two-label public suffixes from the ICANN section of
the public-suffix list (publicsuffix.org), covering every major ccTLD
registry convention plus the long tail, expanded round 13) plus
``PRIVATE_SUFFIXES_2`` (round 14: the high-traffic PRIVATE-section
hosts — github.io, blogspot.*, netlify.app, … — where every subdomain
is an independent publisher, which is exactly what per-domain crawl
caps must respect), embedded so the rule stays row-local codegen (ONE
InSet literal, no external data file, no join). Remaining rare
2-label suffixes and all 3-label suffixes (``act.edu.au``,
``blogspot.co.uk``) still over-aggregate by one level — swap in a
broadcast full-PSL table if that matters.

No counterpart in the reference (it transports events, it does not
parse URLs); this extends the training-data surface like the rest of
``operators/``.
"""

from __future__ import annotations

import re as _re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Query parameters that never identify a resource.
TRACKING_PARAM_RE = r"^(utm_[^=]*|fbclid|gclid|ref|mc_eid)(=.*)?$"

#: Frozen snapshot of the most common TWO-label public suffixes
#: (publicsuffix.org, public data): when a host ends in one of these,
#: the registered domain is the last THREE labels. Kept to the
#: high-traffic ccSLD sets so the in-plan literal stays small; the
#: docstring above records the approximation for the long tail.
PUBLIC_SUFFIXES_2 = (
    # United Kingdom
    "ac.uk", "co.uk", "gov.uk", "ltd.uk", "me.uk", "net.uk", "nhs.uk",
    "org.uk", "plc.uk", "police.uk", "sch.uk",
    # Australia
    "asn.au", "com.au", "edu.au", "gov.au", "id.au", "net.au", "org.au",
    # Brazil
    "art.br", "com.br", "edu.br", "gov.br", "mil.br", "net.br", "org.br",
    # Japan
    "ac.jp", "ad.jp", "co.jp", "ed.jp", "go.jp", "gr.jp", "lg.jp",
    "ne.jp", "or.jp",
    # New Zealand
    "ac.nz", "co.nz", "geek.nz", "gen.nz", "govt.nz", "maori.nz",
    "net.nz", "org.nz", "school.nz",
    # India
    "ac.in", "co.in", "edu.in", "firm.in", "gen.in", "gov.in", "ind.in",
    "mil.in", "net.in", "nic.in", "org.in", "res.in",
    # China
    "ac.cn", "com.cn", "edu.cn", "gov.cn", "mil.cn", "net.cn", "org.cn",
    # South Africa
    "ac.za", "co.za", "edu.za", "gov.za", "net.za", "org.za", "web.za",
    # South Korea
    "ac.kr", "co.kr", "es.kr", "go.kr", "hs.kr", "kg.kr", "mil.kr",
    "ms.kr", "ne.kr", "or.kr", "pe.kr", "re.kr", "sc.kr",
    # Mexico / Argentina / Chile / Colombia / Peru / Venezuela
    "com.mx", "edu.mx", "gob.mx", "net.mx", "org.mx",
    "com.ar", "edu.ar", "gob.ar", "gov.ar", "int.ar", "mil.ar",
    "net.ar", "org.ar", "tur.ar",
    "co.cl", "gob.cl", "gov.cl", "mil.cl",
    "com.co", "edu.co", "gov.co", "mil.co", "net.co", "nom.co", "org.co",
    "com.pe", "edu.pe", "gob.pe", "mil.pe", "net.pe", "nom.pe", "org.pe",
    "co.ve", "com.ve", "edu.ve", "gob.ve", "info.ve", "mil.ve",
    "net.ve", "org.ve", "web.ve",
    # Turkey
    "av.tr", "bbs.tr", "bel.tr", "biz.tr", "com.tr", "dr.tr", "edu.tr",
    "gen.tr", "gov.tr", "info.tr", "k12.tr", "mil.tr", "name.tr",
    "net.tr", "org.tr", "pol.tr", "tv.tr", "web.tr",
    # Taiwan / Hong Kong / Singapore
    "club.tw", "com.tw", "ebiz.tw", "edu.tw", "game.tw", "gov.tw",
    "idv.tw", "mil.tw", "net.tw", "org.tw",
    "com.hk", "edu.hk", "gov.hk", "idv.hk", "net.hk", "org.hk",
    "com.sg", "edu.sg", "gov.sg", "net.sg", "org.sg", "per.sg",
    # Thailand / Indonesia / Malaysia / Philippines / Vietnam
    "ac.th", "co.th", "go.th", "in.th", "mi.th", "net.th", "or.th",
    "ac.id", "biz.id", "co.id", "desa.id", "go.id", "mil.id", "my.id",
    "net.id", "or.id", "sch.id", "web.id",
    "com.my", "edu.my", "gov.my", "mil.my", "name.my", "net.my", "org.my",
    "com.ph", "edu.ph", "gov.ph", "mil.ph", "net.ph", "ngo.ph", "org.ph",
    "ac.vn", "biz.vn", "com.vn", "edu.vn", "gov.vn", "health.vn",
    "info.vn", "int.vn", "name.vn", "net.vn", "org.vn", "pro.vn",
    # Israel / Ukraine / Poland
    "ac.il", "co.il", "gov.il", "idf.il", "k12.il", "muni.il",
    "net.il", "org.il",
    "com.ua", "edu.ua", "gov.ua", "in.ua", "net.ua", "org.ua",
    "biz.pl", "com.pl", "edu.pl", "gov.pl", "info.pl", "mil.pl",
    "net.pl", "org.pl", "waw.pl",
    # Egypt / Saudi Arabia / UAE / Nigeria / Kenya
    "com.eg", "edu.eg", "eun.eg", "gov.eg", "info.eg", "mil.eg",
    "name.eg", "net.eg", "org.eg", "sci.eg",
    "com.sa", "edu.sa", "gov.sa", "med.sa", "net.sa", "org.sa",
    "pub.sa", "sch.sa",
    "ac.ae", "co.ae", "gov.ae", "mil.ae", "net.ae", "org.ae", "sch.ae",
    "com.ng", "edu.ng", "gov.ng", "mil.ng", "mobi.ng", "name.ng",
    "net.ng", "org.ng", "sch.ng",
    "ac.ke", "co.ke", "go.ke", "info.ke", "me.ke", "mobi.ke", "ne.ke",
    "or.ke", "sc.ke",
    # Pakistan / Bangladesh / Sri Lanka / Nepal
    "biz.pk", "com.pk", "edu.pk", "fam.pk", "gov.pk", "net.pk",
    "org.pk", "web.pk",
    "ac.bd", "com.bd", "edu.bd", "gov.bd", "mil.bd", "net.bd", "org.bd",
    "ac.lk", "com.lk", "edu.lk", "gov.lk", "grp.lk", "int.lk",
    "ltd.lk", "net.lk", "org.lk", "sch.lk", "web.lk",
    "com.np", "edu.np", "gov.np", "mil.np", "net.np", "org.np",
    # Western Europe ccSLDs
    "com.es", "edu.es", "gob.es", "nom.es", "org.es",
    "edu.it", "gov.it",
    "asso.fr", "com.fr", "gouv.fr", "nom.fr", "prd.fr", "tm.fr",
    "com.pt", "edu.pt", "gov.pt", "int.pt", "net.pt", "nome.pt",
    "org.pt", "publ.pt",
    "com.gr", "edu.gr", "gov.gr", "net.gr", "org.gr",
    "ac.at", "co.at", "gv.at", "or.at", "priv.at",
    "co.hu", "info.hu", "org.hu",
    "com.ro", "firm.ro", "info.ro", "nom.ro", "org.ro", "store.ro",
    "tm.ro",
    # Canada (provincial + federal)
    "ab.ca", "bc.ca", "gc.ca", "mb.ca", "nb.ca", "ns.ca", "on.ca",
    "qc.ca", "sk.ca", "nf.ca", "nl.ca", "nt.ca", "nu.ca", "pe.ca",
    "yk.ca",
    # ---- round-13 long-tail expansion (ICANN-section ccSLDs) ----
    # Latin America tail
    "com.uy", "edu.uy", "gub.uy", "mil.uy", "net.uy", "org.uy",
    "com.py", "coop.py", "edu.py", "gov.py", "mil.py", "net.py", "org.py",
    "com.bo", "edu.bo", "gob.bo", "int.bo", "mil.bo", "net.bo",
    "org.bo", "tv.bo",
    "com.ec", "edu.ec", "fin.ec", "gob.ec", "gov.ec", "info.ec",
    "med.ec", "mil.ec", "net.ec", "org.ec", "pro.ec",
    "ac.cr", "co.cr", "ed.cr", "fi.cr", "go.cr", "or.cr", "sa.cr",
    "art.do", "com.do", "edu.do", "gob.do", "gov.do", "mil.do",
    "net.do", "org.do", "sld.do", "web.do",
    "com.gt", "edu.gt", "gob.gt", "ind.gt", "mil.gt", "net.gt", "org.gt",
    "com.sv", "edu.sv", "gob.sv", "org.sv", "red.sv",
    "com.hn", "edu.hn", "gob.hn", "mil.hn", "net.hn", "org.hn",
    "com.ni", "edu.ni", "gob.ni", "int.ni", "mil.ni", "net.ni", "org.ni",
    "ac.pa", "com.pa", "edu.pa", "gob.pa", "net.pa", "org.pa", "sld.pa",
    # Middle East / Central & West Asia
    "com.lb", "edu.lb", "gov.lb", "net.lb", "org.lb",
    "com.jo", "edu.jo", "gov.jo", "mil.jo", "name.jo", "net.jo",
    "org.jo", "sch.jo",
    "com.kw", "edu.kw", "emb.kw", "gov.kw", "ind.kw", "net.kw", "org.kw",
    "com.qa", "edu.qa", "gov.qa", "mil.qa", "name.qa", "net.qa",
    "org.qa", "sch.qa",
    "com.bh", "edu.bh", "gov.bh", "net.bh", "org.bh",
    "com.om", "edu.om", "gov.om", "med.om", "net.om", "org.om", "pro.om",
    "com.ye", "edu.ye", "gov.ye", "mil.ye", "net.ye", "org.ye",
    "com.sy", "edu.sy", "gov.sy", "mil.sy", "net.sy", "org.sy",
    "com.iq", "edu.iq", "gov.iq", "mil.iq", "net.iq", "org.iq",
    "ac.ir", "co.ir", "gov.ir", "id.ir", "net.ir", "org.ir", "sch.ir",
    "com.af", "edu.af", "gov.af", "net.af", "org.af",
    "com.kz", "edu.kz", "gov.kz", "mil.kz", "net.kz", "org.kz",
    "co.uz", "com.uz", "net.uz", "org.uz",
    "com.ge", "edu.ge", "gov.ge", "mil.ge", "net.ge", "org.ge", "pvt.ge",
    "com.az", "edu.az", "gov.az", "int.az", "mil.az", "net.az",
    "org.az", "pp.az",
    "com.am", "net.am", "org.am",
    "ac.cy", "biz.cy", "com.cy", "gov.cy", "ltd.cy", "net.cy",
    "org.cy", "tm.cy",
    "com.mt", "edu.mt", "gov.mt", "net.mt", "org.mt",
    # Africa tail
    "ac.ma", "co.ma", "gov.ma", "net.ma", "org.ma", "press.ma",
    "com.dz", "art.dz", "asso.dz", "edu.dz", "gov.dz", "net.dz",
    "org.dz", "pol.dz",
    "com.tn", "ens.tn", "fin.tn", "gov.tn", "ind.tn", "info.tn",
    "intl.tn", "nat.tn", "net.tn", "org.tn", "rnrt.tn", "tourism.tn",
    "com.ly", "edu.ly", "gov.ly", "id.ly", "med.ly", "net.ly",
    "org.ly", "plc.ly", "sch.ly",
    "com.gh", "edu.gh", "gov.gh", "mil.gh", "org.gh",
    "biz.et", "com.et", "edu.et", "gov.et", "info.et", "name.et",
    "net.et", "org.et",
    "ac.tz", "co.tz", "go.tz", "ne.tz", "or.tz", "sc.tz",
    "ac.ug", "co.ug", "go.ug", "ne.ug", "or.ug", "sc.ug",
    "ac.zm", "biz.zm", "co.zm", "com.zm", "edu.zm", "gov.zm",
    "net.zm", "org.zm", "sch.zm",
    "ac.zw", "co.zw", "gov.zw", "mil.zw", "org.zw",
    "ac.bw", "co.bw", "gov.bw", "net.bw", "org.bw",
    "ac.mz", "co.mz", "edu.mz", "gov.mz", "net.mz", "org.mz",
    "co.ao", "ed.ao", "gv.ao", "it.ao", "og.ao", "pb.ao",
    "ac.rw", "co.rw", "gov.rw", "net.rw", "org.rw",
    "ac.mw", "biz.mw", "co.mw", "com.mw", "edu.mw", "gov.mw",
    "net.mw", "org.mw",
    "com.na", "org.na",
    "ac.mu", "co.mu", "com.mu", "gov.mu", "net.mu", "org.mu",
    # Asia tail
    "com.kh", "edu.kh", "gov.kh", "mil.kh", "net.kh", "org.kh", "per.kh",
    "com.mm", "edu.mm", "gov.mm", "net.mm", "org.mm",
    "com.bn", "edu.bn", "gov.bn", "net.bn", "org.bn",
    "edu.mn", "gov.mn", "org.mn",
    "com.mo", "edu.mo", "gov.mo", "net.mo", "org.mo",
    "com.mv", "edu.mv", "gov.mv", "net.mv", "org.mv",
    "com.bt", "edu.bt", "gov.bt", "net.bt", "org.bt",
    # Europe tail
    "ac.rs", "co.rs", "edu.rs", "gov.rs", "in.rs", "org.rs",
    "com.hr", "from.hr", "iz.hr", "name.hr",
    "com.ee", "edu.ee", "fie.ee", "gov.ee", "lib.ee", "med.ee",
    "org.ee", "riik.ee",
    "asn.lv", "com.lv", "conf.lv", "edu.lv", "gov.lv", "id.lv",
    "mil.lv", "net.lv", "org.lv",
    "gov.lt", "com.ru", "gov.ru", "msk.ru", "net.ru", "org.ru", "spb.ru",
    "com.by", "gov.by", "mil.by", "of.by",
    "com.mk", "edu.mk", "gov.mk", "inf.mk", "name.mk", "net.mk", "org.mk",
    "com.al", "edu.al", "gov.al", "mil.al", "net.al", "org.al",
    "com.ba", "edu.ba", "gov.ba", "mil.ba", "net.ba", "org.ba",
    "co.me", "edu.me", "gov.me", "net.me", "org.me",
    "com.md", "org.md",
    # Oceania / Caribbean tail
    "ac.fj", "biz.fj", "com.fj", "gov.fj", "info.fj", "name.fj",
    "net.fj", "org.fj", "pro.fj",
    "ac.pg", "com.pg", "gov.pg", "mil.pg", "net.pg", "org.pg",
    "com.ws", "edu.ws", "gov.ws", "net.ws", "org.ws",
    "com.sb", "edu.sb", "gov.sb", "net.sb", "org.sb",
    "com.vu", "edu.vu", "net.vu", "org.vu",
    "com.jm", "edu.jm", "gov.jm", "net.jm", "org.jm",
    "biz.tt", "co.tt", "com.tt", "edu.tt", "gov.tt", "info.tt",
    "net.tt", "org.tt", "pro.tt",
    "com.bb", "edu.bb", "gov.bb", "net.bb", "org.bb",
    "com.bs", "edu.bs", "gov.bs", "net.bs", "org.bs",
    "co.gy", "com.gy", "edu.gy", "gov.gy", "net.gy", "org.gy",
)

#: Round-14: high-traffic TWO-label suffixes from the PSL's PRIVATE
#: section (publicsuffix.org, public data) — multi-tenant hosting where
#: each subdomain is an independent publisher (user.github.io and
#: other-user.github.io must NOT aggregate into one registered domain
#: when q90-style per-domain crawl caps fire). Same frozen-tuple
#: discipline as the ICANN snapshot above: feeds the SAME InSet, and
#: the oracle SQL derives from the same tuple so the engines cannot
#: drift. Kept to the high-traffic pages/blog/app hosts; rare private
#: entries and all 3-label suffixes remain the documented
#: approximation (broadcast full-PSL table is the swap-in).
PRIVATE_SUFFIXES_2 = (
    # code/pages hosting
    "github.io", "githubusercontent.com", "gitlab.io", "bitbucket.io",
    "netlify.app", "vercel.app", "pages.dev", "workers.dev",
    "web.app", "firebaseapp.com", "appspot.com", "herokuapp.com",
    "azurewebsites.net", "cloudapp.net", "cloudfront.net",
    "amplifyapp.com", "onrender.com", "fly.dev", "deno.dev",
    "repl.co", "glitch.me", "surge.sh", "neocities.org",
    "readthedocs.io", "gitbook.io", "webflow.io", "hashnode.dev",
    "pythonanywhere.com", "000webhostapp.com", "translate.goog",
    # site builders / blogs / commerce
    "wordpress.com", "tumblr.com", "wixsite.com", "myshopify.com",
    "notion.site",
    # blogspot's per-country 2-label domains (the 3-label ones —
    # blogspot.com.ar, blogspot.co.uk — stay in the documented gap)
    "blogspot.com", "blogspot.ae", "blogspot.ba", "blogspot.be",
    "blogspot.bg", "blogspot.ca", "blogspot.ch", "blogspot.cl",
    "blogspot.cz", "blogspot.de", "blogspot.dk", "blogspot.fi",
    "blogspot.fr", "blogspot.gr", "blogspot.hk", "blogspot.hr",
    "blogspot.hu", "blogspot.ie", "blogspot.in", "blogspot.is",
    "blogspot.it", "blogspot.jp", "blogspot.kr", "blogspot.li",
    "blogspot.lt", "blogspot.lu", "blogspot.md", "blogspot.mk",
    "blogspot.mx", "blogspot.my", "blogspot.nl", "blogspot.no",
    "blogspot.pe", "blogspot.pt", "blogspot.qa", "blogspot.re",
    "blogspot.ro", "blogspot.rs", "blogspot.ru", "blogspot.se",
    "blogspot.sg", "blogspot.si", "blogspot.sk", "blogspot.sn",
    "blogspot.td", "blogspot.tw", "blogspot.ug", "blogspot.vn",
)

#: The ONE suffix set the registered-domain rule compiles into its
#: InSet (ICANN + private sections): a single hash probe per row
#: either way, so splitting the sections buys nothing at runtime —
#: they are separate tuples only for provenance.
ALL_SUFFIXES_2 = PUBLIC_SUFFIXES_2 + PRIVATE_SUFFIXES_2

_URL_RE = r"^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(\?[^#]*)?(#.*)?$"


def _canon_query(query: Column) -> Column:
    """Sorted, tracking-stripped query string ('' when nothing left).
    ``query`` includes the leading '?' or is ''."""
    params = F.filter(
        F.split(F.regexp_replace(query, r"^\?", ""), "&"),
        lambda p: (p != "") & ~p.rlike(TRACKING_PARAM_RE),
    )
    joined = F.array_join(F.array_sort(params), "&")
    return F.when(joined == "", F.lit("")).otherwise(
        F.concat(F.lit("?"), joined)
    )


def canonicalize_urls(
    df: DataFrame,
    url_col: str,
    out_col: str = "canonical_url",
) -> DataFrame:
    """Append ``out_col`` plus parsed ``host``, ``registered_domain``
    and ``path_canonical`` columns (NULL for rows that do not parse as
    absolute http(s)-style URLs — surface them, never guess)."""
    u = F.col(url_col)
    scheme = F.lower(F.regexp_extract(u, _URL_RE, 1))
    authority = F.regexp_extract(u, _URL_RE, 2)
    raw_path = F.regexp_extract(u, _URL_RE, 3)
    raw_query = F.regexp_extract(u, _URL_RE, 4)

    host_port = F.lower(authority)
    port = F.regexp_extract(host_port, r":(\d+)$", 1)
    host = F.regexp_replace(
        F.regexp_replace(host_port, r":\d+$", ""), r"^www\.", ""
    )
    keep_port = (port != "") & ~(
        ((scheme == "http") & (port == "80"))
        | ((scheme == "https") & (port == "443"))
    )
    netloc = F.when(keep_port, F.concat(host, F.lit(":"), port)).otherwise(host)

    path = F.regexp_replace(raw_path, r"/{2,}", "/")
    path = F.regexp_replace(path, r"(.)/$", "$1")
    path = F.when(path == "", F.lit("/")).otherwise(path)

    labels = F.split(host, r"\.")
    last2 = F.concat_ws(
        ".", F.element_at(labels, -2), F.element_at(labels, -1)
    )
    reg_dom = (
        F.when(
            (F.size(labels) >= 3) & last2.isin(*ALL_SUFFIXES_2),
            F.concat_ws(
                ".",
                F.element_at(labels, -3),
                F.element_at(labels, -2),
                F.element_at(labels, -1),
            ),
        )
        .when(F.size(labels) >= 2, last2)
        .otherwise(host)
    )

    parsed = scheme != ""
    return (
        df.withColumn("host", F.when(parsed, host))
        .withColumn("registered_domain", F.when(parsed, reg_dom))
        .withColumn("path_canonical", F.when(parsed, path))
        .withColumn(
            out_col,
            F.when(
                parsed,
                F.concat(
                    scheme, F.lit("://"), netloc, path, _canon_query(raw_query)
                ),
            ),
        )
    )


# ---------------------------------------------------------------------------
# HTML main-content extraction (boilerplate removal)
# ---------------------------------------------------------------------------

#: Closing tags that terminate a text block. Non-capturing group so the
#: same pattern drives Spark's split (Java regex) and an RE2 engine.
BLOCK_SPLIT_RE = r"(?i)</(?:p|div|li|h1|h2|h3|h4|h5|h6|td|th|section|article|blockquote)>"

#: HTML entities decoded after tag stripping (the practical set; a full
#: entity table is a broadcast-join extension). ``&amp;`` is decoded
#: LAST so ``&amp;lt;`` round-trips to the literal text ``&lt;`` instead
#: of double-decoding to ``<``.
HTML_ENTITIES: tuple[tuple[str, str], ...] = (
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&amp;", "&"),
)


def _block_text(block: Column) -> Column:
    """Visible text of one HTML block: tags stripped, entities decoded,
    whitespace collapsed. Tag stripping runs FIRST so a decoded
    ``&lt;tag&gt;`` stays literal text (never re-parsed as markup)."""
    txt = F.regexp_replace(block, r"<[^>]*>", " ")
    for ent, ch in HTML_ENTITIES:
        txt = F.replace(txt, F.lit(ent), F.lit(ch))
    return F.trim(F.regexp_replace(txt, r"[ \t\r\n]+", " "))


#: Python-compiled twins of the extraction regexes — module level so a
#: reused Python worker compiles them once, not per batch (guide §4.5).
#: The patterns are the exact Java∩RE2∩Python-re dialect strings the
#: JVM path uses; byte-equality of the two paths is pinned by
#: tests/test_web.py::test_extract_kernel_equals_jvm_expressions.
_SCRIPT_STYLE_PY = tuple(
    _re.compile(rf"(?is)<{tag}[^>]*>.*?</{tag}>") for tag in ("script", "style")
)
_BLOCK_SPLIT_PY = _re.compile(BLOCK_SPLIT_RE)
_TAG_PY = _re.compile(r"<[^>]*>")
_WS_PY = _re.compile(r"[ \t\r\n]+")
_LINK_PY = _re.compile(r"(?is)<a[^>]*>(.*?)</a>")


def _block_text_py(block: str) -> str:
    """Python twin of ``_block_text``: tags stripped FIRST, entities
    decoded in the same order, whitespace collapsed, space-trimmed."""
    txt = _TAG_PY.sub(" ", block)
    for ent, ch in HTML_ENTITIES:
        txt = txt.replace(ent, ch)
    return _WS_PY.sub(" ", txt).strip(" ")


def extract_html_content(
    df: DataFrame,
    html_col: str,
    min_text_chars: int = 25,
    max_link_density_pct: int = 33,
) -> DataFrame:
    """Boilerplate removal for crawl HTML: keep text blocks that read
    like content, drop navigation/footer chrome — the jusText/
    trafilatura core signal (Pomikalek 2011: block-level link density
    + length), reduced to its deterministic skeleton so the SAME rule
    runs in any engine. The in-page complement of ``functions/text.py
    strip_markup`` (which flattens ALL markup and defers boilerplate
    judgment) and of ``line_dedup`` (which removes CROSS-document
    boilerplate by frequency): this operator decides per block, inside
    one page, with no corpus pass.

    Pipeline (r15: ONE Arrow kernel — mapInPandas over widened input;
    zero shuffles beyond the widen of narrow scans):

    1. ``<script>``/``<style>`` elements removed outright (their text
       is never content);
    2. the page splits into blocks at closing block-level tags
       (``BLOCK_SPLIT_RE``);
    3. per block: visible text (tags stripped, entities decoded,
       whitespace collapsed), its length, and the length of text
       inside ``<a>`` elements;
    4. a block is CONTENT iff ``text_chars >= min_text_chars`` and
       ``link_chars * 100 <= max_link_density_pct * text_chars`` —
       the density test is pure integer arithmetic so engines can
       never disagree on the boundary.

    Appends ``clean_text`` (kept blocks joined with newlines),
    ``n_blocks`` (non-empty blocks), ``kept_blocks``,
    ``content_chars``, ``boiler_chars`` — and CONSUMES ``html_col``
    (the page payload crosses the Arrow boundary once, inbound, and is
    never shipped back; guide §4.1/§2.3).

    Why a kernel and not expressions (guide §4.2, the chrF playbook):
    the per-block stats are interpreted higher-order lambdas wrapping
    per-block regex calls — the class where batched C-regex wins. The
    same-frame A/B over the full sf0.1 crawl corpus: JVM expressions
    1.24–1.35 s vs kernel 0.60–0.85 s at equal width, output byte-EQUAL
    on all 5000 rows (and pinned by a differential test against the
    retained JVM path, ``_extract_html_content_jvm``). Null html maps
    to all-null stats and empty html to zeros, exactly like the
    expression path.

    Every regex is written in the Java∩RE2∩Python-re dialect
    (non-capturing groups, no backreferences, explicit
    ``[ \\t\\r\\n]`` class) — the q54/q144 discipline that keeps the
    rule portable and oracle-checkable.
    """
    from collections.abc import Iterator

    from pyspark.sql.types import (
        IntegerType, StringType, StructField, StructType,
    )

    from atiesh_spark.session import widen_for_python_stage

    out_schema = StructType(
        [f for f in df.schema.fields if f.name != html_col]
        + [
            StructField("clean_text", StringType()),
            StructField("n_blocks", IntegerType()),
            StructField("kept_blocks", IntegerType()),
            StructField("content_chars", IntegerType()),
            StructField("boiler_chars", IntegerType()),
        ]
    )

    def kernel(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            ct, nb, kb, cc, bc = [], [], [], [], []
            for h in pdf[html_col]:
                if h is None:
                    ct.append(None), nb.append(None), kb.append(None)
                    cc.append(None), bc.append(None)
                    continue
                for rx in _SCRIPT_STYLE_PY:
                    h = rx.sub(" ", h)
                blocks = []
                for b in _BLOCK_SPLIT_PY.split(h):
                    txt = _block_text_py(b)
                    if not txt:
                        continue
                    link_chars = sum(
                        len(_block_text_py(x)) for x in _LINK_PY.findall(b)
                    )
                    blocks.append((txt, len(txt), link_chars))
                kept = [
                    s
                    for s in blocks
                    if s[1] >= min_text_chars
                    and s[2] * 100 <= max_link_density_pct * s[1]
                ]
                ct.append("\n".join(s[0] for s in kept))
                nb.append(len(blocks))
                kb.append(len(kept))
                kept_chars = sum(s[1] for s in kept)
                cc.append(kept_chars)
                bc.append(sum(s[1] for s in blocks) - kept_chars)
            out = pdf.drop(columns=[html_col])
            out["clean_text"] = pd.array(ct, dtype=object)
            out["n_blocks"] = pd.array(nb, dtype="Int32")
            out["kept_blocks"] = pd.array(kb, dtype="Int32")
            out["content_chars"] = pd.array(cc, dtype="Int32")
            out["boiler_chars"] = pd.array(bc, dtype="Int32")
            yield out

    return widen_for_python_stage(df).mapInPandas(kernel, schema=out_schema)


def _extract_html_content_jvm(
    df: DataFrame,
    html_col: str,
    min_text_chars: int = 25,
    max_link_density_pct: int = 33,
) -> DataFrame:
    """The pre-r15 pure-expression implementation (regexp + interpreted
    higher-order functions), retained as the DIFFERENTIAL ORACLE for
    the Arrow kernel: test_web pins row equality of the two paths on
    hostile fixtures and the synthetic crawl corpus. Measured slower
    than the kernel (see extract_html_content) — not used by any
    query. Note it keeps ``html_col`` in its output; compare on the
    derived columns.
    """
    h = F.col(html_col)
    for tag in ("script", "style"):
        h = F.regexp_replace(h, rf"(?is)<{tag}[^>]*>.*?</{tag}>", " ")

    link_pat = F.lit(r"(?is)<a[^>]*>(.*?)</a>")
    zero = F.lit(0).cast("int")

    def stats(b: Column) -> Column:
        txt = _block_text(b)
        link_chars = F.aggregate(
            F.regexp_extract_all(b, link_pat, F.lit(1)),
            zero,
            lambda acc, x: acc + F.length(_block_text(x)),
        )
        return F.struct(
            txt.alias("txt"),
            F.length(txt).alias("text_chars"),
            link_chars.alias("link_chars"),
        )

    blocks = F.transform(F.split(h, BLOCK_SPLIT_RE), stats)
    blocks = F.filter(blocks, lambda s: s["text_chars"] > 0)
    kept = F.filter(
        blocks,
        lambda s: (s["text_chars"] >= F.lit(min_text_chars))
        & (s["link_chars"] * 100 <= F.lit(max_link_density_pct) * s["text_chars"]),
    )
    sum_chars = lambda arr: F.aggregate(  # noqa: E731
        arr, zero, lambda acc, s: acc + s["text_chars"]
    )
    return (
        df.withColumn("_blocks", blocks)
        .withColumn("_kept", kept)
        .select(
            "*",
            F.array_join(
                F.transform(F.col("_kept"), lambda s: s["txt"]), "\n"
            ).alias("clean_text"),
            F.size("_blocks").alias("n_blocks"),
            F.size("_kept").alias("kept_blocks"),
            sum_chars(F.col("_kept")).alias("content_chars"),
            (sum_chars(F.col("_blocks")) - sum_chars(F.col("_kept"))).alias(
                "boiler_chars"
            ),
        )
        .drop("_blocks", "_kept")
    )


# ---------------------------------------------------------------------------
# robots.txt-style URL admission (RFC 9309 longest-match)
# ---------------------------------------------------------------------------

#: Regex metacharacters escaped when translating a robots path pattern
#: to a regex. ``*`` is excluded (it is the robots wildcard) and the
#: trailing ``$`` anchor is handled separately.
_ROBOTS_ESCAPE_RE = r"([.^$+?(){}\[\]\\|])"


def _robots_regex(pattern: Column) -> Column:
    """Translate an RFC 9309 path pattern to an anchored Java/RE2
    regex: ``*`` matches any run of characters, a trailing ``$``
    anchors the end, everything else is literal."""
    anchored = pattern.endswith("$")
    body = F.when(
        anchored, F.substring(pattern, F.lit(1), F.length(pattern) - 1)
    ).otherwise(pattern)
    escaped = F.regexp_replace(body, _ROBOTS_ESCAPE_RE, r"\\$1")
    wild = F.replace(escaped, F.lit("*"), F.lit(".*"))
    return F.concat(
        F.lit("^"), wild, F.when(anchored, F.lit("$")).otherwise(F.lit(""))
    )


def apply_robots_rules(
    urls: DataFrame,
    rules: DataFrame,
    host_col: str = "host",
    path_col: str = "path",
) -> DataFrame:
    """Admission decision per URL under robots.txt semantics (RFC
    9309 / Google's reference matcher): among the host's rules whose
    path pattern matches the URL path, the LONGEST pattern wins; on a
    length tie the least-restrictive (Allow) rule wins; a URL
    matching no rule is allowed.

    ``rules`` is ``(host, allow boolean, pattern)`` — parsed per-host
    Disallow/Allow lines, a crawl-metadata dimension that is small by
    construction (robots files are KBs). Plan shape: the rules
    aggregate to ONE array row per host (the only shuffle, on the KB-
    sized dimension), broadcast-join onto the URL frame, and the
    match + longest-wins selection run as row-local higher-order
    functions (filter by in-plan regex, array_max over a
    (length, allow) sort key) — the URL fact table NEVER shuffles;
    admission of 100 TB of URLs rides the scan. Patterns translate
    to regexes in-plan (``_robots_regex``: ``*`` -> ``.*``, trailing
    ``$`` -> anchor, metacharacters escaped), so arbitrary rule sets
    work, not just sanitized ones.

    Appends ``allowed`` and ``matched_rule`` ('' when no rule
    matched).
    """
    from pyspark.sql.functions import broadcast

    host_rules = (
        rules.select(
            F.col("host").alias("_r_host"),
            F.struct(
                F.length("pattern").alias("l"),
                F.col("allow").cast("int").alias("a"),
                F.col("allow").alias("allow"),
                F.col("pattern").alias("pattern"),
                _robots_regex(F.col("pattern")).alias("regex"),
            ).alias("r"),
        )
        .groupBy("_r_host")
        .agg(F.collect_list("r").alias("_rules"))
    )
    joined = urls.join(
        broadcast(host_rules),
        F.col(host_col) == F.col("_r_host"),
        "left",
    )
    path = F.col(path_col)
    matching = F.filter(
        F.col("_rules"), lambda r: F.regexp_like(path, r["regex"])
    )
    win = F.array_max(matching)
    return joined.select(
        *urls.columns,
        F.coalesce(win["allow"], F.lit(True)).alias("allowed"),
        F.coalesce(win["pattern"], F.lit("")).alias("matched_rule"),
    )


# ---------------------------------------------------------------------------
# the crawl-ingestion composite (q235) as a reusable chain + its
# streaming maintenance twin (round 10, r9 verdict item 6)


def crawl_verdict_rows(
    blobs: DataFrame,
    rules: DataFrame,
    min_words: int = 15,
    zlib_threshold: float = 0.25,
) -> DataFrame:
    """WARC blobs -> one verdict row per page: ``(host, reason,
    repaired, cc)`` — the ENTIRE q235 crawl-ingestion chain (WARC
    parse -> mojibake repair -> URL canonicalization -> robots
    broadcast-join admission -> jusText-style extraction -> Gopher
    min-words gate -> zlib compression gate -> first-failing reason
    code) factored so the one-shot graded query (q235) and the
    streaming maintenance loop (``StreamingCrawlIngest``, q244) run
    the SAME code on every page. Per-page verdicts depend only on
    the page itself, so any partition of the input produces the same
    multiset of rows — the property the streaming twin's additive
    store relies on. Plan shape unchanged from q235: one mapInPandas
    parse, row-local codegen repair/canon/extraction, a broadcast
    robots dimension, the zlib Arrow stage; zero extra exchanges."""
    from atiesh_spark.functions.text import fix_mojibake
    from atiesh_spark.operators.textstats import compression_ratio
    from atiesh_spark.sources.warc import parse_warc_records

    recs = parse_warc_records(blobs, "blob").select(
        "target_uri", F.col("body").cast("string").alias("raw")
    )
    repaired = recs.select(
        "target_uri",
        fix_mojibake(F.col("raw")).alias("html"),
        (fix_mojibake(F.col("raw")) != F.col("raw")).alias("repaired"),
    )
    canon = canonicalize_urls(repaired, "target_uri")
    adm = apply_robots_rules(
        canon, rules, host_col="host", path_col="path_canonical"
    )
    ext = extract_html_content(adm, "html")
    n_words = F.size(
        F.expr("filter(split(clean_text, '\\\\s+'), w -> w != '')")
    )
    return compression_ratio(ext, "clean_text").select(
        "host",
        F.when(~F.col("allowed"), F.lit("robots"))
        .when(F.col("kept_blocks") == 0, F.lit("no_content"))
        .when(n_words < F.lit(min_words), F.lit("too_short"))
        .when(F.col("zlib_ratio") <= F.lit(zlib_threshold),
              F.lit("low_entropy"))
        .otherwise(F.lit("ok"))
        .alias("reason"),
        "repaired",
        F.when(F.col("allowed"), F.col("content_chars"))
        .otherwise(F.lit(0))
        .alias("cc"),
    )


class StreamingCrawlIngest:
    """The continuous-crawler twin of q235: WARC archives stream in
    as micro-batches of blobs; each batch runs the full ingestion
    chain (``crawl_verdict_rows`` — the SAME code as the one-shot
    query) and merges the per-page verdicts into an incremental
    ``(host, reason) -> (n_docs, n_repaired, content_chars)``
    attrition store.

    The merge is a plain monoid sum: every page's verdict is a
    function of that page alone (robots rules are a static broadcast
    dimension; no gate looks across pages), and each archive arrives
    exactly once on a checkpointed source — so after ANY prefix of
    batches the store equals the one-shot report over the pages seen,
    and after all batches it hash-equals q235's oracle (driver-graded:
    q244, with the final batch replayed under the same id to prove
    VersionedStore convergence).

    100 TB shape: per-batch work ∝ batch bytes (the chain is
    row-local until its single digest exchange); the store itself is
    O(hosts x reasons) — a true digest, read/merged whole each batch;
    state never grows with pages. Reference parity: this is the
    reference's source -> interceptor-chain -> sink loop
    (SURVEY §2.2/§2.7) with the interceptor chain as a declarative
    plan and the accumulated semantics state in a versioned store.
    """

    def __init__(
        self,
        path: str,
        rules: DataFrame,
        min_words: int = 15,
        zlib_threshold: float = 0.25,
        keep_versions: int = 2,
    ) -> None:
        from atiesh_spark.sources.versioned import VersionedStore

        self.rules = rules
        self.min_words = min_words
        self.zlib_threshold = zlib_threshold
        self.store = VersionedStore(path, keep_versions=keep_versions)

    def _batch_report(self, batch_df: DataFrame) -> DataFrame:
        return (
            crawl_verdict_rows(
                batch_df, self.rules,
                min_words=self.min_words,
                zlib_threshold=self.zlib_threshold,
            )
            .groupBy("host", "reason")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.sum(F.col("repaired").cast("long")).cast("long")
                .alias("n_repaired"),
                F.sum("cc").cast("long").alias("content_chars"),
            )
        )

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        delta = self._batch_report(batch_df)
        prev = self.store.read_before(batch_df.sparkSession, batch_id)
        if prev is not None:
            delta = (
                prev.unionByName(delta)
                .groupBy("host", "reason")
                .agg(
                    F.sum("n_docs").cast("long").alias("n_docs"),
                    F.sum("n_repaired").cast("long").alias("n_repaired"),
                    F.sum("content_chars").cast("long")
                    .alias("content_chars"),
                )
            )
        self.store.write(delta, batch_id)

    def read(self, spark) -> DataFrame:
        return self.store.read(spark)


ROBOTS_RULE_FIELDS = "rule_index int, allow boolean, pattern string"


def _parse_robots_text(text: str, agent: str) -> list[tuple[bool, str]]:
    """One robots.txt body -> ordered (allow, pattern) rules for
    ``agent``, per RFC 9309 group semantics: a GROUP is one or more
    consecutive ``User-agent`` lines followed by its rules; the rules
    in force are the union of every group naming the agent's product
    token (case-insensitive exact match), falling back to the union
    of ``*`` groups when no specific group exists. Field names are
    case-insensitive, ``#`` starts a comment, unknown fields
    (Crawl-delay, Sitemap, ...) are skipped without ending a group,
    and an EMPTY Disallow value means "nothing disallowed" (no rule
    emitted). Returns patterns in file order — downstream precedence
    (longest-match, allow wins ties) is ``apply_robots_rules``'s job,
    not the parser's."""
    agent = agent.lower()
    groups: list[tuple[list[str], list[tuple[bool, str]]]] = []
    cur_agents: list[str] = []
    cur_rules: list[tuple[bool, str]] = []
    in_agent_run = False
    for raw in text.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        field, _, value = line.partition(":")
        field = field.strip().lower()
        value = value.strip()
        if field == "user-agent":
            if not in_agent_run and cur_agents:
                groups.append((cur_agents, cur_rules))
                cur_agents, cur_rules = [], []
            cur_agents.append(value.lower())
            in_agent_run = True
        elif field in ("allow", "disallow"):
            in_agent_run = False
            if cur_agents and value:
                cur_rules.append((field == "allow", value))
        else:
            in_agent_run = False  # Crawl-delay/Sitemap/unknown: skip
    if cur_agents:
        groups.append((cur_agents, cur_rules))
    specific = [r for agents, rules in groups if agent in agents
                for r in rules]
    if any(agent in agents for agents, _ in groups):
        return specific
    return [r for agents, rules in groups if "*" in agents
            for r in rules]


def parse_robots_rules(
    df: DataFrame,
    host_col: str,
    text_col: str,
    agent: str,
) -> DataFrame:
    """Explode robots.txt BODIES into the ``(host, allow, pattern)``
    rule rows ``apply_robots_rules`` consumes — closing the last gap
    in the crawl-admission chain (fetch robots -> PARSE -> apply).
    One mapInPandas pass over the host dimension (KBs per row, hosts
    not pages — tiny by construction); a host whose robots yields no
    rules for the agent contributes zero rows, which downstream means
    allow-all (the RFC default)."""
    import pandas as pd

    from atiesh_spark.session import widen_for_python_stage

    base = df.select(df[host_col].alias("host"), df[text_col].alias("t"))

    def gen(batches):
        for pdf in batches:
            rows = []
            for host, text in zip(pdf["host"], pdf["t"]):
                if text is None:
                    continue  # unfetchable robots = allow-all
                for i, (allow, pattern) in enumerate(
                    _parse_robots_text(str(text), agent)
                ):
                    rows.append({"host": host, "rule_index": i,
                                 "allow": allow, "pattern": pattern})
            yield pd.DataFrame(
                rows, columns=["host", "rule_index", "allow", "pattern"]
            )

    return widen_for_python_stage(base).mapInPandas(
        gen, schema=f"host string, {ROBOTS_RULE_FIELDS}"
    )
