"""Scalar functions (SURVEY.md §2.8) — pure-SQL first, pandas UDF only
where a Python library is genuinely required (IDNA).

Each returns a Column so it composes inside whole-stage codegen.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf type hints resolve against module globals
from pyspark.sql import Column, DataFrame, functions as F


def reverse_host(col) -> Column:
    """F2: label-order flip `example.com` -> `com.example`
    (hostlinks_to_graph.py:70-74) — pure SQL, no UDF."""
    return F.array_join(F.reverse(F.split(col, r"\.")), ".")


def normalize_domain(col) -> Column:
    """F5: lower, trim, strip leading `www.` (domain_handler.py:10-24)."""
    return F.regexp_replace(F.lower(F.trim(col)), r"^www\.", "")


def first_label(col) -> Column:
    """First label of a reversed host (= TLD), for F3 validity joins
    (hostlinks_to_graph.py:76-88)."""
    return F.split(col, r"\.")[0]


def iana_tld_df(spark) -> DataFrame:
    """F3: the vendored IANA TLD whitelist (reference iana_tld.py) as a
    broadcast-sized DataFrame (~1.6k rows)."""
    from credigraph_spark.psl import load_iana_tlds

    return spark.createDataFrame([(t,) for t in sorted(load_iana_tlds())], ["tld"])


def is_valid_reversed_host(df: DataFrame, host_col: str, tld_df: DataFrame | None = None,
                           tld_col: str = "tld") -> DataFrame:
    """F3/P4: keep rows whose reversed-host TLD is in the (broadcast) IANA
    table — the reference's UDF whitelist check becomes a broadcast semi
    join, keeping the filter JVM-side. ``tld_df`` defaults to the vendored
    IANA list."""
    if tld_df is None:
        tld_df = iana_tld_df(df.sparkSession)
    keys = tld_df.select(F.col(tld_col).alias("_tld")).distinct()
    return (
        df.withColumn("_tld", first_label(F.col(host_col)))
        .join(F.broadcast(keys), "_tld", "left_semi")
        .drop("_tld")
    )


# ---------------------------------------------------------------------------
# URL -> host extraction (F1/F8)
# ---------------------------------------------------------------------------

# reference patterns, wat_extract_links.py:385-402 (case-insensitivity via
# (?i); ASCII classes are literal so re.ASCII is moot)
_URL_HOST_RE = r"(?i)^https?://([a-z0-9_.\-]{2,253})(?:[/?#]|$)"
_IP_RE = r"^(?:www\.)?\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}$"
_HOST_LABEL_RE = r"^[a-z0-9]([a-z0-9_-]{0,61}[a-z0-9])?$"


def get_surt_host(col, idna: bool = True) -> Column:
    """F1 (wat_extract_links.py:404-457): URL -> reversed (SURT) host, or
    NULL for anything invalid. Reference semantics, step for step:

    * host = fast regex over http(s) URLs, else generic URL parse
      (protocol-relative ``//host/..`` handled by prefixing ``http:``);
    * lowercase + trim; reject length ∉ [1, 253];
    * reject IPv4 addresses (including with a leading ``www.``);
    * strip one trailing dot; reject single-label hosts;
    * strip a leading ``www.`` when ≥3 labels remain;
    * every label ≤ 63 chars and hostname-valid (relaxed: underscore ok);
      non-ASCII labels go through IDNA (the ONE pandas-UDF step — pure
      SQL otherwise; ASCII hosts never leave the JVM in that UDF's fast
      path) and are re-validated after encoding;
    * reverse label order (``com.example``).
    """
    url = F.col(col) if isinstance(col, str) else col
    fast = F.regexp_extract(url, _URL_HOST_RE, 1)
    # urlparse-equivalent fallback (reference uses Python urlparse, which —
    # unlike Spark's parse_url/Java URI — accepts non-ASCII hosts): netloc
    # after scheme:// or protocol-relative //, up to /?#, minus userinfo
    # and port. Pure regex, engine-independent.
    netloc = F.regexp_extract(url, r"(?i)^(?:[a-z][a-z0-9+.\-]*:)?//([^/?#]*)", 1)
    no_user = F.regexp_replace(netloc, r"^[^@]*@", "")
    generic = F.regexp_extract(no_user, r"^([^:]*)", 1)
    host = F.when(fast != "", fast).otherwise(F.when(generic != "", generic))

    h0 = F.lower(F.trim(host))                         # checks run on this
    h = F.regexp_replace(h0, r"\.$", "")               # one trailing dot ok
    labels = F.split(h, r"\.")
    n = F.size(labels)
    stripped = F.when((n > 2) & (F.element_at(labels, 1) == "www"),
                      F.slice(labels, 2, n - 1)).otherwise(labels)
    joined = F.array_join(stripped, ".")
    if idna:
        joined = idna_normalize_udf()(joined)          # ASCII fast path inside
    final_labels = F.split(joined, r"\.")

    valid = (
        host.isNotNull()
        & (F.length(h0) >= 1) & (F.length(h0) <= 253)
        & ~h0.rlike(_IP_RE)
        & (n >= 2)
        & joined.isNotNull()
        & F.forall(final_labels,
                   lambda p: (F.length(p) <= 63) & p.rlike(_HOST_LABEL_RE))
    )
    return F.when(valid, F.array_join(F.reverse(final_labels), "."))


def extract_domain(col) -> Column:
    """F8 (domain_handler.py:107-149): raw string/URL -> normalized domain
    or NULL — pure SQL, no UDF. Reference semantics: trim whitespace,
    strip surrounding quotes, unescape ``&amp;``, default the scheme to
    ``http://``, take the netloc (up to the first ``/?#``), lowercase,
    drop the port, reject empty / whitespace-bearing / dot-less results."""
    raw = F.col(col) if isinstance(col, str) else col
    s = F.regexp_replace(raw, r"^\s+|\s+$", "")        # Python str.strip()
    s = F.regexp_replace(s, "^['\"]+", "")
    s = F.regexp_replace(s, "['\"]+$", "")
    s = F.replace(s, F.lit("&amp;"), F.lit("&"))
    scheme = "^[a-zA-Z][a-zA-Z0-9+.\\-]*://"
    prepped = F.when(s.rlike(scheme), s).otherwise(F.concat(F.lit("http://"), s))
    netloc = F.regexp_extract(prepped, scheme + "([^/?#]*)", 1)
    domain = F.regexp_extract(F.lower(netloc), "^([^:]*)", 1)  # strip port
    valid = (
        raw.isNotNull() & (F.length(s) > 0)
        & (F.length(domain) > 0)
        & ~domain.rlike(r"\s")
        & domain.contains(".")
    )
    return F.when(valid, domain)


def sigmoid(col) -> Column:
    """F12 (tgrag/utils/prob.py:8-19)."""
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col(col) if isinstance(col, str) else -col))


def iso_week_monday_yyyymmdd(ts_col) -> Column:
    """F11: timestamp -> `YYYYMMDD` of the ISO-week Monday
    (temporal_utils.py:6-24). date_trunc('week') is ISO-Monday in Spark."""
    return F.date_format(F.date_trunc("week", ts_col), "yyyyMMdd")


def content_sha256(col) -> Column:
    """F18: per-row content hash invariant — codegen'd, no UDF."""
    return F.sha2(col if isinstance(col, Column) else F.col(col), 256)


# ---------------------------------------------------------------------------
# eTLD+1 rotation against the full Public Suffix List (F6/F7)
# ---------------------------------------------------------------------------
# The reference resolves suffixes via tldextract over the full PSL
# (domain_handler.py:27-73); the engine vendors the PSL + IANA data
# (credigraph_spark/data/, see psl.py) and reimplements the algorithm.


def _coerce_rules(psl):
    from credigraph_spark.psl import PSLRules, _simple_rules, load_psl

    if psl is None:
        return load_psl()
    if isinstance(psl, PSLRules):
        return psl
    return _simple_rules(psl)


def _rotations(labels: list[str]):
    """Reference rotation order (domain_handler.py:48-51): move the last
    r labels to the front, r = 0..n-1."""
    n = len(labels)
    for r in range(n):
        yield labels[-r:] + labels[:-r] if r else labels


def flip_if_needed_py(domain: str | None, rules) -> str | None:
    """Scalar core of F6 (domain_handler.py:27-73), reference-faithful:
    try every label rotation, extract (suffix, domain) per the PSL, keep
    the BEST candidate by (suffix_label_count, domain_length, normalized)
    tuple max, and return the eTLD+1 ONLY (subdomains dropped:
    'news.bbc.co.uk' -> 'bbc.co.uk'). Falls back to the label-joined
    input when no rotation validates."""
    if not domain:
        return domain
    labels = [p for p in domain.strip(".").lower().split(".") if p]
    if not labels:
        return domain
    best = None
    for rot in _rotations(labels):
        e = rules.etld1(rot)
        if e is None:
            continue
        dom, suffix = e
        cand = (suffix.count(".") + 1, len(dom), f"{dom}.{suffix}")
        if best is None or cand > best:
            best = cand
    if best is None:
        return ".".join(labels)
    return best[2]


def strict_etld1_match_py(domain: str | None, rules, rated: frozenset) -> str | None:
    """Scalar core of F7 (target_generation.py:17-51): the FIRST rotation
    that is exactly an eTLD+1 (no subdomain) present in ``rated``."""
    if not domain:
        return None
    labels = [p for p in domain.strip(".").lower().split(".") if p]
    for rot in _rotations(labels):
        e = rules.etld1(rot)
        if e is None:
            continue
        dom, suffix = e
        etld1 = f"{dom}.{suffix}"
        if ".".join(rot) == etld1 and etld1 in rated:
            return etld1
    return None


def flip_if_needed_udf(psl=None):
    """F6 as a vectorized pandas UDF (Arrow batches; per-batch frozen-set
    probes, no network). ``psl``: None = full vendored PSL; or a PSLRules;
    or a plain iterable of exact suffixes."""
    from pyspark.sql.types import StringType

    rules = _coerce_rules(psl)

    @F.pandas_udf(StringType())
    def _flip(domains: pd.Series) -> pd.Series:
        return domains.map(lambda d: flip_if_needed_py(d, rules))

    return _flip


def strict_etld1_match_udf(rated: set[str], psl=None):
    """F7 as a vectorized pandas UDF; returns the matched eTLD+1 or None."""
    from pyspark.sql.types import StringType

    rules = _coerce_rules(psl)
    rated_set = frozenset(rated)

    @F.pandas_udf(StringType())
    def _match(domains: pd.Series) -> pd.Series:
        return domains.map(lambda d: strict_etld1_match_py(d, rules, rated_set))

    return _match


def psl_rules_df(spark, psl=None) -> DataFrame:
    """The PSL as a (rule, kind) DataFrame for the pure-SQL matcher —
    ~10k rows, always broadcast."""
    if psl is None:
        from credigraph_spark.psl import rules_rows

        rows = [(r, k) for r, k, _ in rules_rows()]
    else:
        rules = _coerce_rules(psl)
        rows = ([(r, "exact") for r in rules.exact]
                + [(r, "wildcard") for r in rules.wildcard]
                + [(r, "exception") for r in rules.exception])
    return spark.createDataFrame(rows, ["rule", "kind"])


def flip_if_needed_frame(df: DataFrame, domain_col: str, out_col: str = "etld1",
                         rules_df: DataFrame | None = None) -> DataFrame:
    """F6 as a PURE-SQL plan (zero UDF): explode label rotations × tails,
    broadcast-join the PSL rules table, apply PSL precedence (exception >
    longest match) and the reference's best-rotation tuple max — all
    inside whole-stage codegen. Semantics identical to
    ``flip_if_needed_udf`` (cross-checked in tests).

    Scale shape: the match runs once per DISTINCT domain string (repeated
    domains — the common case in web tables — share one computation and
    join back by the string itself, so no synthetic row id is needed); a
    domain with n labels emits n rotations × n tails = O(n²) rows (n ≤ ~6
    for real hosts); the rules join is a broadcast hash join; both
    argmaxes are partial-aggregatable struct maxes."""
    spark = df.sparkSession
    if rules_df is None:
        rules_df = psl_rules_df(spark)

    labels = F.filter(
        F.split(F.regexp_replace(F.lower(F.trim(F.col("_rid"))), r"^\.+|\.+$", ""), r"\."),
        lambda p: F.length(p) > 0,
    )
    with_id = (
        df.select(F.col(domain_col).alias("_rid")).where(F.col("_rid").isNotNull())
        .distinct()
        .withColumn("_labels", labels)
        .withColumn("_n", F.size("_labels"))
    )

    n = F.col("_n")
    rots = with_id.where(n > 0).select(
        "_rid", "_n", "_labels",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), n - 1),
                lambda r: F.when(r == 0, F.col("_labels")).otherwise(
                    F.concat(F.slice("_labels", n - r + 1, r), F.slice("_labels", F.lit(1), n - r))
                ),
            )
        ).alias("_rot"),
    )
    # tails: j = 1-indexed suffix-candidate start within the rotation
    tails = rots.select(
        "_rid", "_n", "_rot",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), n),
                lambda j: F.struct(
                    j.alias("j"),
                    F.array_join(F.slice("_rot", j, n - j + 1), ".").alias("tail"),
                ),
            )
        ).alias("_t"),
    ).select("_rid", "_n", "_rot", F.col("_t.j").alias("j"), F.col("_t.tail").alias("tail"))

    matched = tails.join(F.broadcast(rules_df), F.col("tail") == F.col("rule")).select(
        "_rid", "_n", "_rot",
        # suffix start index per rule kind (see psl.py): exact -> j,
        # wildcard '*.tail' means the tail one label EARLIER matched -> j-1,
        # exception -> the rule minus its first label -> j+1.
        F.when(F.col("kind") == "exact", F.col("j"))
         .when(F.col("kind") == "wildcard", F.col("j") - 1)
         .otherwise(F.col("j") + 1).alias("_start"),
        (F.col("kind") == "exception").cast("int").alias("_is_exc"),
    ).where((F.col("_start") >= 1) & (F.col("_start") <= F.col("_n")))

    # PSL precedence per rotation: exception beats all, else longest suffix.
    # _start == 1 matches (the whole rotation IS a public suffix) must
    # PARTICIPATE in this argmax — suffix_split picks the longest match
    # first and only then etld1 rejects the rotation when no domain label
    # remains (psl.py:70-76) — so the domain-nonempty filter runs AFTER,
    # on the winner ('act.edu.au' must not fall back to 'edu.au').
    per_rot = matched.groupBy("_rid", "_rot", "_n").agg(
        F.max(F.struct(
            F.col("_is_exc"),
            (F.col("_n") - F.col("_start") + 1).alias("_suffix_labels"),
        )).alias("_m")
    ).where(F.col("_m._suffix_labels") <= F.col("_n") - 1).select(
        "_rid", "_rot",
        F.col("_m._suffix_labels").alias("_sl"),
        F.element_at("_rot", (F.col("_n") - F.col("_m._suffix_labels"))).alias("_dom"),
        F.array_join(
            F.slice("_rot", F.col("_n") - F.col("_m._suffix_labels") + 1, F.col("_m._suffix_labels")),
            ".",
        ).alias("_suffix"),
    )
    # reference tuple max across rotations: (suffix_labels, len(domain), normalized)
    per_row = per_rot.groupBy("_rid").agg(
        F.max(F.struct(
            F.col("_sl"), F.length("_dom").alias("_dl"),
            F.concat_ws(".", "_dom", "_suffix").alias("_norm"),
        )).alias("_b")
    ).select("_rid", F.col("_b._norm").alias("_flipped"))

    per_domain = (
        with_id.join(per_row, "_rid", "left")
        .select(
            F.col("_rid").alias(domain_col),
            F.when(F.col("_flipped").isNotNull(), F.col("_flipped"))
             .when(F.col("_n") > 0, F.array_join("_labels", "."))
             .otherwise(F.col("_rid")).alias(out_col),
        )
    )
    return df.join(per_domain, domain_col, "left").withColumn(
        out_col,
        # null/empty input: reference returns the input unchanged
        F.coalesce(F.col(out_col), F.col(domain_col)),
    )


def idna_normalize_udf():
    """F4: IDNA-encode non-ASCII labels of a reversed host, None when the
    encoding fails (hostlinks_to_graph.py:90-110). The one function that
    needs a Python library — Arrow-vectorized pandas UDF, never row-Python.
    Pure-ASCII fast path avoids the codec entirely."""
    from pyspark.sql.types import StringType

    @F.pandas_udf(StringType())
    def _norm(hosts: pd.Series) -> pd.Series:
        def one(h):
            if h is None:
                return None
            if h.isascii():
                return h
            try:
                return ".".join(
                    p if p.isascii() else p.encode("idna").decode("ascii")
                    for p in h.split(".")
                )
            except (UnicodeError, UnicodeDecodeError):
                return None

        return hosts.map(one)

    return _norm
