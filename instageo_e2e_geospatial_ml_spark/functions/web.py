"""Web-crawl curation columns: URL parsing, registrable-domain
extraction, per-domain caps.

A 100 TB web-crawl training pipeline curates by URL structure before it
ever reads document bytes: scheme/host/path filters, eTLD+1 grouping,
and per-domain document caps (the RefinedWeb/C4-style guard against a
single site dominating the corpus). Everything here is built from JVM
`pyspark.sql.functions` expressions (regexp/CASE/window — whole-stage
codegen, no Python in the hot path) and has exact DuckDB twins in the
driver registry (q56/q57).

The registrable domain is a longest match against a broadcast
public-suffix table; hosts under no listed suffix fall back to a
documented HEURISTIC: last two host labels, or last three when the
second-level label sits under a known two-part public suffix (co.uk,
com.au, ...). A production system loads the full public-suffix list:
same plan shape, bigger dimension table.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# two-part public suffixes recognized by the heuristic (extend freely —
# at scale this becomes a broadcast-joined dimension table)
TWO_PART_SUFFIXES = ("co.uk", "com.au", "co.jp", "com.br", "ac.uk")


def synth_urls(docs: DataFrame) -> DataFrame:
    """Deterministic URL column derived from (doc_id, source, lang) — the
    driver/test surface for URL operators (the synthetic corpus carries
    no URLs; derivation follows the q19 derived-column pattern so the
    DuckDB oracle can rebuild the identical values)."""
    did = F.col("doc_id")
    scheme = F.when(did % 3 == 0, F.lit("https")).otherwise(F.lit("http"))
    tld = (
        F.when(did % 5 == 0, F.lit("com"))
        .when(did % 5 == 1, F.lit("org"))
        .when(did % 5 == 2, F.lit("co.uk"))
        .when(did % 5 == 3, F.lit("io"))
        .otherwise(F.lit("com.au"))
    )
    host = F.concat(
        F.substring(F.md5(did.cast("string")), 1, 2),
        F.lit(".example"),
        (did % 7).cast("string"),
        F.lit("."),
        tld,
    )
    path = F.concat(
        F.lit("/"), F.col("source"), F.lit("/p"), (did % 50).cast("string"),
        F.lit(".html"),
    )
    qs = F.when(
        did % 4 == 0, F.concat(F.lit("?ref="), F.col("lang"))
    ).otherwise(F.lit(""))
    return docs.withColumn(
        "url", F.concat(scheme, F.lit("://"), host, path, qs)
    )


def url_components(df: DataFrame) -> DataFrame:
    """scheme / host / path / query columns via anchored regexps (all
    JVM-side; empty string where a part is absent)."""
    u = F.col("url")
    return (
        df.withColumn("scheme", F.regexp_extract(u, r"^([a-z]+)://", 1))
        .withColumn("host", F.regexp_extract(u, r"^[a-z]+://([^/?#]+)", 1))
        .withColumn("path", F.regexp_extract(u, r"^[a-z]+://[^/?#]+([^?#]*)", 1))
        .withColumn("query", F.regexp_extract(u, r"\?([^#]*)", 1))
    )


def registrable_domain_col(host: Column) -> Column:
    """eTLD+1 heuristic (see module docstring): CASE on the known
    two-part suffixes avoids regex-alternation ordering differences
    between engines, keeping the DuckDB twin hash-exact."""
    expr = None
    for suf in TWO_PART_SUFFIXES:
        pat = r"([^.]+\." + suf.replace(".", r"\.") + r")$"
        branch = F.regexp_extract(host, pat, 1)
        cond = host.endswith("." + suf)
        expr = F.when(cond, branch) if expr is None else expr.when(cond, branch)
    return expr.otherwise(F.regexp_extract(host, r"([^.]+\.[^.]+)$", 1))


# Representative frozen subset of the (public-content) Mozilla Public
# Suffix List — one-, two- and three-part suffixes. A production deploy
# loads the full list the same way; the plan shape (three broadcast
# left joins, longest match wins) is identical at any list size.
PUBLIC_SUFFIX_SUBSET = (
    # generic / country single-part
    "com net org io ai app dev info biz xyz gov edu mil int "
    "uk de jp fr au br cn in ru nl it es se no fi pl ch at be dk cz us nz za kr "
    # .uk family
    "co.uk org.uk gov.uk ac.uk me.uk ltd.uk plc.uk net.uk sch.uk nhs.uk "
    # .au
    "com.au net.au org.au edu.au gov.au asn.au id.au "
    # .jp
    "co.jp or.jp ne.jp ac.jp ad.jp ed.jp go.jp gr.jp lg.jp "
    # .cn
    "com.cn net.cn org.cn gov.cn edu.cn ac.cn "
    # .br
    "com.br net.br org.br gov.br edu.br "
    # .in / .nz / .za / .kr
    "co.in net.in org.in gov.in ac.in res.in "
    "co.nz net.nz org.nz govt.nz ac.nz "
    "co.za net.za org.za gov.za ac.za web.za "
    "co.kr or.kr ne.kr go.kr ac.kr re.kr pe.kr "
    # .mx / .ar / .tr / .sg / .hk / .tw / .id / .my / .th
    "com.mx org.mx gob.mx edu.mx net.mx "
    "com.ar net.ar org.ar gob.ar edu.ar "
    "com.tr net.tr org.tr gov.tr edu.tr "
    "com.sg net.sg org.sg gov.sg edu.sg "
    "com.hk net.hk org.hk gov.hk edu.hk "
    "com.tw net.tw org.tw gov.tw edu.tw "
    "co.id or.id go.id ac.id web.id "
    "com.my net.my org.my gov.my edu.my "
    "co.th or.th go.th ac.th in.th "
    # three-part examples (US school districts, AU state education)
    "k12.ak.us k12.ca.us cc.ca.us act.edu.au nsw.edu.au"
).split()


def public_suffix_table(spark) -> DataFrame:
    """The suffix dimension table (suffix string, n_labels int) —
    broadcast side of the longest-match join."""
    rows = [(s, s.count(".") + 1) for s in PUBLIC_SUFFIX_SUBSET]
    return spark.createDataFrame(rows, "suffix string, n_labels int")


def registrable_domain(df: DataFrame) -> DataFrame:
    """eTLD+1 column: longest match against the broadcast public-suffix
    dimension table — three broadcast LEFT joins on the host's last
    1/2/3 labels (no shuffle of the fact side; the dim is tiny even for
    the full PSL), registrable = suffix + one label, falling back to the
    heuristic `registrable_domain_col` for hosts matching no listed
    suffix. Where both know the suffix they agree; where they disagree
    (e.g. gov.uk, k12.ak.us) the table wins."""
    spark = df.sparkSession
    psl = public_suffix_table(spark)
    host = F.col("host")
    parts = F.split(host, r"\.")
    n = F.size(parts)
    out = df.withColumn("_hp", parts)
    for k in (1, 2, 3):
        cand = F.when(
            n >= k + 1,  # need one label left over for the "+1"
            F.array_join(F.slice(F.col("_hp"), n - k + 1, k), "."),
        )
        dim = psl.filter(F.col("n_labels") == k).select(
            F.col("suffix").alias(f"_s{k}")
        )
        out = out.join(
            F.broadcast(dim), cand == F.col(f"_s{k}"), "left"
        )
    reg = (
        F.when(
            F.col("_s3").isNotNull(),
            F.array_join(F.slice(F.col("_hp"), n - 3, 4), "."),
        )
        .when(
            F.col("_s2").isNotNull(),
            F.array_join(F.slice(F.col("_hp"), n - 2, 3), "."),
        )
        .when(
            F.col("_s1").isNotNull(),
            F.array_join(F.slice(F.col("_hp"), n - 1, 2), "."),
        )
        .otherwise(registrable_domain_col(host))
    )
    return out.withColumn("domain", reg).drop("_hp", "_s1", "_s2", "_s3")


def _pre_cap_salted(df: DataFrame, max_per_domain: int, n_salt: int) -> DataFrame:
    """Phase 1 of the salted cap: keep each (domain, salt)'s lowest
    `max_per_domain` doc_id values. Any row in a domain's GLOBAL top-cap
    is also in its salt bucket's top-cap (ordering restricted to a
    subset), so phase 1 never drops a final keeper — it only bounds the
    phase-2 input at ≤ n_salt·cap rows per domain."""
    from pyspark.sql import Window

    w1 = Window.partitionBy("domain", "_salt").orderBy(F.col("doc_id"))
    return (
        df.withColumn(
            "_salt", F.pmod(F.hash(F.col("doc_id").cast("string")), F.lit(n_salt))
        )
        .withColumn("_r1", F.row_number().over(w1))
        .filter(F.col("_r1") <= max_per_domain)
        .drop("_salt", "_r1")
    )


def cap_per_domain(df: DataFrame, max_per_domain: int, n_salt: int = 16) -> DataFrame:
    """Keep at most `max_per_domain` documents per registrable domain,
    deterministically (ordered by doc_id).

    Salted two-phase plan (VERDICT r6 #2): at 100 TB the domain key is
    zipfian — one window partitioned by domain alone lands the hottest
    domain's entire row set in a single task. Phase 1 pre-caps per
    (domain, salt=hash(order) mod n_salt), so every phase-1 task sees a
    1/n_salt slice of even the hottest domain; phase 2 re-ranks only the
    ≤ n_salt·cap survivors per domain — its per-task input is bounded by
    a constant regardless of corpus size. Result identical to the
    single-window form (the q57 oracle pins the hash). `n_salt=1`
    degenerates to the plain single-window plan."""
    from pyspark.sql import Window

    if n_salt > 1:
        df = _pre_cap_salted(df, max_per_domain, n_salt)
    w = Window.partitionBy("domain").orderBy(F.col("doc_id"))
    return (
        df.withColumn("rank_in_domain", F.row_number().over(w))
        .filter(F.col("rank_in_domain") <= max_per_domain)
    )


# canonical synthetic crawl-policy rule set used by q128 and its oracle
# (prefix, allow). Includes a longest-match cascade under /src1 and an
# exact-length allow/deny tie under /src6 (tie resolves to allow).
ROBOTS_RULES = (
    ("/", 1),
    ("/src1", 0),
    ("/src1/p1", 1),
    ("/src1/p12", 0),
    ("/src2/p", 0),
    ("/src3", 0),
    ("/src4/p4.html", 0),
    ("/src6", 0),
    ("/src6", 1),
    ("/src7/p", 1),
    ("/src7", 0),
)


def robots_filter(df: DataFrame, rules: DataFrame) -> DataFrame:
    """Crawl-policy admission by robots.txt longest-match semantics
    (RFC 9309 / Google spec, prefix rules only — `*`/`$` wildcards are
    out of scope and documented so): for each row, among the rules
    whose `prefix` is a string prefix of the path, the LONGEST wins;
    equal-length winners resolve to allow; no match means allow.

    `rules` is a (prefix STRING, allow INT) dimension table — robots
    policies are tiny next to a 100 TB crawl, so it broadcasts and the
    match is a broadcast theta-join on startswith, then one map-side
    integer fold per row: score = 2*len(prefix) + allow, max(score)
    decodes to (longest prefix, allow-on-tie) with no struct ordering —
    the q95 portable-fold trick. Adds `allowed` (0/1) and
    `matched_len` (0 when no rule matched).
    """
    p = F.col("path")
    matched = (
        df.join(
            F.broadcast(rules),
            p.startswith(F.col("prefix")),
            "left",
        )
        .groupBy(*df.columns)
        .agg(
            F.max(
                F.length(F.col("prefix")) * 2 + F.col("allow")
            ).alias("score")
        )
    )
    score = F.coalesce(F.col("score"), F.lit(1))
    return matched.select(
        *df.columns,
        (score % 2).cast("int").alias("allowed"),
        F.expr("coalesce(score, 1) div 2").cast("long").alias("matched_len"),
    )


def robots_rules_values_sql() -> str:
    """The rule table as a SQL VALUES list (oracle twin input)."""
    rows = ", ".join(f"('{p}', {a})" for p, a in ROBOTS_RULES)
    return f"SELECT * FROM (VALUES {rows}) AS r(prefix, allow)"


def robots_filter_sql(docs_sql: str, key_cols: str) -> str:
    """DuckDB twin of robots_filter: same broadcast-shape join on
    starts_with, same 2*len+allow ordered fold. `key_cols` is the
    comma-separated passthrough column list of `docs_sql`."""
    return f"""
WITH d AS ({docs_sql}),
r AS ({robots_rules_values_sql()}),
m AS (
  SELECT {key_cols}, max(2 * length(r.prefix) + r.allow) AS score
  FROM d LEFT JOIN r ON starts_with(d.path, r.prefix)
  GROUP BY {key_cols}
)
SELECT {key_cols},
       CAST(COALESCE(score, 1) % 2 AS INTEGER) AS allowed,
       CAST(COALESCE(score, 1) // 2 AS BIGINT) AS matched_len
FROM m
"""


# query keys stripped by canonicalize_url (the C4/CCNet-style tracking
# set; `utm_*` is matched as a prefix, the rest exactly)
TRACKING_PARAM_KEYS = (
    "gclid", "fbclid", "msclkid", "igshid", "mc_cid", "mc_eid", "ref", "_ga",
)


def synth_raw_urls(docs: DataFrame) -> DataFrame:
    """Deterministic MESSY URL column for the canonicalization surface
    (q129): mixed-case schemes/hosts, default and non-default ports,
    empty paths, tracking + real query params in shuffled order, and
    fragments — every branch the canonicalizer must normalize. Kept
    separate from synth_urls so the q56/q57/q128 oracles stay frozen."""
    did = F.col("doc_id")
    scheme = F.when(did % 3 == 0, F.lit("HTTPS")).otherwise(F.lit("http"))
    host = F.concat(
        F.when(did % 2 == 0, F.lit("WWW.Example")).otherwise(F.lit("example")),
        (did % 7).cast("string"),
        F.lit(".com"),
    )
    port = (
        F.when(did % 6 == 0, F.lit(":443"))       # default for the https rows
        .when(did % 5 == 0, F.lit(":8080"))       # non-default: kept
        .when((did % 15) == 1, F.lit(":80"))      # default for http: stripped
        .otherwise(F.lit(""))
    )
    path = F.when(did % 11 == 0, F.lit("")).otherwise(
        F.concat(F.lit("/a/p"), (did % 50).cast("string"))
    )
    qs = (
        F.when(did % 4 == 0, F.lit("?utm_source=news&b=2&a=1"))
        .when(did % 4 == 1, F.lit("?a=1&gclid=xyz&b=2"))
        .when(did % 4 == 2, F.lit("?utm_medium=cpc&ref=tw"))
        .otherwise(F.lit(""))
    )
    frag = F.when(did % 9 == 0, F.lit("#section-2")).otherwise(F.lit(""))
    return docs.withColumn(
        "raw_url", F.concat(scheme, F.lit("://"), host, port, path, qs, frag)
    )


def canonicalize_url(df: DataFrame) -> DataFrame:
    """URL canonicalization for crawl dedup (the C4/CCNet/RefinedWeb
    pre-dedup step): lowercase scheme and host, strip the default port
    (http:80 / https:443) but keep others, drop the fragment, drop
    tracking query params (utm_* prefix + TRACKING_PARAM_KEYS), sort
    the surviving params byte-lexicographically, and normalize an empty
    path to "/". Path case and duplicate params are preserved (both are
    semantically significant); dot-segment resolution (/./, /../) is
    documented out of scope. Adds `url_canon`.

    All JVM expressions — regexp splits, a higher-order filter over the
    param array, array_sort, array_join — so the whole column stays in
    whole-stage codegen and the DuckDB twin (canonicalize_url_sql) is
    the identical expression shape on list_filter/list_sort.
    """
    u = F.col("raw_url")
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z]+)://", 1))
    hostport = F.regexp_extract(u, r"^[A-Za-z]+://([^/?#]+)", 1)
    host = F.lower(F.regexp_extract(hostport, r"^([^:]*)", 1))
    port = F.regexp_extract(hostport, r":([0-9]+)$", 1)
    keep_port = (port != "") & ~(
        ((scheme == "http") & (port == "80"))
        | ((scheme == "https") & (port == "443"))
    )
    path = F.regexp_extract(u, r"^[A-Za-z]+://[^/?#]+([^?#]*)", 1)
    query = F.regexp_extract(u, r"\?([^#]*)", 1)
    params = F.when(
        query == "", F.expr("cast(array() as array<string>)")
    ).otherwise(F.split(query, "&"))

    def _kept(p):
        k = F.regexp_extract(p, "^([^=]*)", 1)
        drop = k.startswith("utm_")
        for t in TRACKING_PARAM_KEYS:
            drop = drop | (k == t)
        return ~drop

    q_canon = F.array_join(F.array_sort(F.filter(params, _kept)), "&")
    return df.withColumn(
        "url_canon",
        F.concat(
            scheme,
            F.lit("://"),
            host,
            F.when(keep_port, F.concat(F.lit(":"), port)).otherwise(F.lit("")),
            F.when(path == "", F.lit("/")).otherwise(path),
            F.when(q_canon == "", F.lit("")).otherwise(
                F.concat(F.lit("?"), q_canon)
            ),
        ),
    )


def canonicalize_url_sql() -> str:
    """The identical canonicalization as a DuckDB scalar expression
    (oracle twin); splice into a SELECT as `... AS url_canon`."""
    exact = ", ".join(f"'{k}'" for k in TRACKING_PARAM_KEYS)
    u = "raw_url"
    scheme = f"lower(regexp_extract({u}, '^([A-Za-z]+)://', 1))"
    hostport = f"regexp_extract({u}, '^[A-Za-z]+://([^/?#]+)', 1)"
    host = f"lower(regexp_extract({hostport}, '^([^:]*)', 1))"
    port = f"regexp_extract({hostport}, ':([0-9]+)$', 1)"
    path = f"regexp_extract({u}, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1)"
    query = f"regexp_extract({u}, '\\?([^#]*)', 1)"
    params = (
        f"CASE WHEN {query} = '' THEN [] ELSE string_split({query}, '&') END"
    )
    kept = (
        f"list_filter({params}, p -> NOT ("
        f"starts_with(regexp_extract(p, '^([^=]*)', 1), 'utm_') "
        f"OR regexp_extract(p, '^([^=]*)', 1) IN ({exact})))"
    )
    # DuckDB: list_sort/array_to_string of an empty list yields NULL
    # (Spark's array_join gives ''); COALESCE restores the parity.
    q_canon = f"COALESCE(array_to_string(list_sort({kept}), '&'), '')"
    keep_port = (
        f"({port} <> '' AND NOT (({scheme} = 'http' AND {port} = '80') "
        f"OR ({scheme} = 'https' AND {port} = '443')))"
    )
    return (
        f"{scheme} || '://' || {host} "
        f"|| CASE WHEN {keep_port} THEN ':' || {port} ELSE '' END "
        f"|| CASE WHEN {path} = '' THEN '/' ELSE {path} END "
        f"|| CASE WHEN {q_canon} = '' THEN '' ELSE '?' || {q_canon} END"
    )


def ipv4_to_long(col) -> "Column":
    """Dotted-quad string → uint32 as int64 (a.b.c.d →
    a·2²⁴ + b·2¹⁶ + c·2⁸ + d) — pure split/cast arithmetic, UDF-free."""
    c = col if not isinstance(col, str) else F.col(col)
    p = F.split(c, r"\.")
    return (
        p[0].cast("long") * 16777216
        + p[1].cast("long") * 65536
        + p[2].cast("long") * 256
        + p[3].cast("long")
    )


def cidr_join(ips: DataFrame, blocks: DataFrame) -> DataFrame:
    """IP-in-CIDR containment join — the geo-IP / bot-net / datacenter
    tagging step of crawl curation: an address matches a block when its
    top `bits` bits equal the block's base. Matching uses pure integer
    range arithmetic (lo = base, hi = base + 2^(32−bits) − 1), and the
    MOST-SPECIFIC match wins (max bits, then lowest base — the routing
    longest-prefix rule) via one min(struct) per address.

    Scale: block tables are dimension-sized → broadcast range join
    (BroadcastNestedLoop over the tiny side) + the struct-argmin
    aggregate; for million-block tables pre-bucket by the top octet
    (the interval_join rewrite) — this operator is the refine."""
    b = blocks.select(
        ipv4_to_long(F.col("base_ip")).alias("lo"),
        F.col("bits").cast("long").alias("bits"),
        F.col("base_ip").alias("block_base"),
    ).withColumn(
        "hi",
        F.col("lo") + F.expr("CAST(pow(2, 32 - bits) AS BIGINT)") - 1,
    )
    ipl = ips.withColumn("_ip_long", ipv4_to_long(F.col("ip")))
    j = ipl.join(
        F.broadcast(b),
        (F.col("_ip_long") >= F.col("lo"))
        & (F.col("_ip_long") <= F.col("hi")),
        "left",
    )
    pick = F.min(
        F.struct(
            (-F.col("bits")).alias("neg_bits"),
            F.col("lo").alias("lo"),
            F.col("block_base").alias("block_base"),
            F.col("bits").alias("bits"),
        )
    ).alias("m")
    keys = [c for c in ips.columns]
    out = (
        j.groupBy(*keys, "_ip_long")
        .agg(pick)
        .select(
            *keys,
            F.col("_ip_long").alias("ip_long"),
            F.col("m.block_base").alias("block_base"),
            F.col("m.bits").alias("block_bits"),
        )
    )
    return out


def cidr_join_sql(
    ips_sql: str, blocks_sql: str
) -> str:
    """DuckDB twin of cidr_join for the (ip)-only input shape — emits
    (ip, ip_long, block_base, block_bits); blocks_sql yields
    (base_ip, bits)."""
    ip2l = lambda e: (
        f"(CAST(string_split({e}, '.')[1] AS BIGINT) * 16777216"
        f" + CAST(string_split({e}, '.')[2] AS BIGINT) * 65536"
        f" + CAST(string_split({e}, '.')[3] AS BIGINT) * 256"
        f" + CAST(string_split({e}, '.')[4] AS BIGINT))"
    )
    return f"""
WITH b AS (
  SELECT {ip2l('base_ip')} AS lo, CAST(bits AS BIGINT) AS bits,
         base_ip AS block_base,
         {ip2l('base_ip')} + CAST(pow(2, 32 - bits) AS BIGINT) - 1
           AS hi
  FROM ({blocks_sql})
),
i AS (SELECT *, {ip2l('ip')} AS ip_long FROM ({ips_sql})),
j AS (
  SELECT i.ip, i.ip_long, b.bits, b.lo, b.block_base
  FROM i LEFT JOIN b ON i.ip_long >= b.lo AND i.ip_long <= b.hi
),
rnk AS (
  SELECT *, row_number() OVER (PARTITION BY ip, ip_long
    ORDER BY bits DESC NULLS LAST, lo ASC) AS rn
  FROM j
)
SELECT ip, ip_long, block_base, bits AS block_bits
FROM rnk WHERE rn = 1
"""
