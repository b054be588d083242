"""Pure Column-expression helpers.

Everything here returns a `pyspark.sql.Column` built only from built-in
functions, so it stays JVM-side inside whole-stage codegen — no Python UDFs.
These are the engine's scalar vocabulary for the LLM-data operators
(SURVEY.md §2.3): vector math, tokenization, fingerprints, text heuristics.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


# ---------------------------------------------------------------- vectors

def to_double_array(col: Column | str) -> Column:
    """Cast array<float> -> array<double> so dot products accumulate in f64
    (matches DuckDB's list math, which the oracle computes in double)."""
    return F.col(col).cast("array<double>") if isinstance(col, str) else col.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    """Elementwise dot product via zip_with + aggregate (JVM-side, no UDF)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine_similarity(a: Column, b: Column) -> Column:
    """Exact cosine similarity between two array<double> columns."""
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


# ---------------------------------------------------------------- rounding

def round_half_up(scaled: Column) -> Column:
    """floor(scaled + 0.5): the fixed-point grid every exact-integer
    operator snaps a scaled double onto (embedding coordinates times
    10^scale or 2^20, int8 quantization steps). One IEEE add and floor,
    spelled the same way in the DuckDB oracles, so both engines land on
    the same integer; exact halves (a float32 odd multiple of 1/32 times
    1e4 ends in .5) round up on both sides, where a half-even rint or a
    decimal cast would not."""
    return F.floor(scaled + F.lit(0.5))


def round6(x: Column) -> Column:
    """x rounded half up to 6 dp as floor(x*1e6 + 0.5)/1e6 — for
    irrational outputs (sqrt, division) where Spark's HALF_UP ROUND and
    the oracle's correctly-rounded ROUND can disagree by 1e-6 at a
    double-repr half; this written float order is one both engines
    share."""
    return round_half_up(x * F.lit(1e6)) / F.lit(1e6)


# ---------------------------------------------------------------- aggregates

def dsum(col: Column | str) -> Column:
    """DECIMAL(18,2)-accumulated sum, surfaced as double: exact and
    independent of partition order, so it is deterministic across
    engines."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast("decimal(18,2)")).cast("double")


# ---------------------------------------------------------------- text

def word_tokens(text: Column | str) -> Column:
    """Whitespace tokenizer. `split` with a regex; empty tokens filtered so
    leading/trailing/double spaces don't produce '' tokens (matches the
    oracle's list_filter(string_split_regex(...))).

    Contract note: Java and RE2 treat '\\s' as ASCII whitespace only, so
    U+2000-style Unicode spaces are NOT separators — Spark and DuckDB agree
    on this; Python's str.split() does not (pinned by
    tests/test_properties.py)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(c, r"\s+"), lambda t: t != "")


def token_count(text: Column | str) -> Column:
    return F.size(word_tokens(text))


def bpe_ish_tokens(text: Column | str) -> Column:
    """Sub-word-ish tokenizer: runs of letters, runs of digits, or single
    non-space symbols — a deterministic, SQL-expressible stand-in for a BPE
    pre-tokenizer (GPT-2 style split, minus byte-level merges)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_extract_all(c, F.lit(r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"), 0)


def ngrams(tokens: Column, n: int) -> Column:
    """Word n-grams from a token array, space-joined.

    Built by iterated zip_with against successively-shifted suffixes: pass
    i concatenates each gram-so-far with the token i positions ahead, so
    building all grams is n-1 linear passes with one string concat per
    element. (The per-position `slice(tokens, i, n)` + concat_ws transform
    this replaces allocated an n-element array copy per gram position —
    measured 15x slower on sf0.1 documents.) Tail positions with fewer
    than n tokens surface as NULL (zip_with pads) and are filtered, which
    also preserves the []-for-short-docs contract.
    """
    if n < 1:
        raise ValueError("n must be >= 1")
    if n == 1:
        return tokens
    acc = tokens
    for i in range(1, n):
        shifted = F.slice(tokens, i + 1, F.greatest(F.size(tokens), F.lit(1)))
        acc = F.zip_with(
            acc,
            shifted,
            lambda a, b: F.when(
                a.isNull() | b.isNull(), F.lit(None).cast("string")
            ).otherwise(F.concat_ws(" ", a, b)),
        )
    return F.filter(acc, lambda g: g.isNotNull())


def char_shingles(text: Column | str, k: int = 5) -> Column:
    """Character k-shingles (for MinHash): substrings of length k at every
    offset; generated with sequence+transform, no UDF."""
    c = F.col(text) if isinstance(text, str) else text
    idx = F.sequence(F.lit(1), F.length(c) - (k - 1))
    shingled = F.transform(idx, lambda i: F.substring(c, i, k))
    # guard: Spark's sequence(1, 0) yields a DESCENDING [1, 0], not []
    return F.when(F.length(c) < k, F.array().cast("array<string>")).otherwise(shingled)


def md5_fingerprint(text: Column | str) -> Column:
    """Deterministic full-document fingerprint: md5 hex (identical in DuckDB)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.md5(c.cast("binary"))


def md5_int60(value: Column | str) -> Column:
    """The portable 60-bit hash: the first 15 hex digits of md5 as a
    non-negative bigint. DuckDB spells it the same way, so an operator
    that hashes with it (the Bloom, count-min, HLL, MinHash and SimHash
    arms, feature hashing, DSIR buckets) can carry a hash-matched
    oracle."""
    c = F.col(value) if isinstance(value, str) else value
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("bigint")


def rolling_fingerprint(text: Column | str) -> Column:
    """Polynomial rolling hash over characters: fold(acc*257 + code) %
    1_000_000_007.

    Deterministic and cheap; stays in codegen via aggregate over the char
    array. Used for content-defined chunk fingerprints.
    """
    c = F.col(text) if isinstance(text, str) else text
    chars = F.split(c, "")
    return F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, ch: (acc * 257 + F.ascii(ch)) % 1_000_000_007,
    )


def surt_url(url: Column | str) -> Column:
    """SURT (Sort-friendly URI Reordering Transform) canonical form of a
    URL — the crawl-dedup join key the reference toolchain gets from the
    `surt` package (its Databricks provisioning ships surt alongside
    fastwarc/warcio; reference resources/databricks.py:76-78):
    ``http://www.Example.COM/p?b=2&a=1`` -> ``com,example)/p?a=1&b=2``.

    Canonicalization: fragment dropped, scheme dropped, userinfo
    dropped, host lowercased, leading ``www.`` stripped, the scheme's
    OWN default port stripped (:80 for http, :443 for https — both for
    scheme-less input) while every other port is KEPT (distinct
    origins — ``example.com`` vs ``example.com:8080``, or
    ``https://h:80`` vs ``http://h`` — must not conflate under a dedup
    key; real SURT makes the same distinction),
    host labels reversed comma-joined (so one registered domain's
    captures sort/partition together — the property that makes
    per-domain dedup a contiguous range scan instead of a shuffle on
    raw hosts), query params sorted. Handles the real-crawl URL shapes
    a naive split corrupts: a query before any slash
    (``http://h?a=1``), ports, userinfo, fragments, bracketed IPv6
    hosts (kept verbatim — colon-separated groups must not be port- or
    label-split). Pure built-in string/array ops — codegen, no UDF —
    and every step has a DuckDB closed form, so SURT-keyed entries
    stay oracle-checkable.
    """
    c = F.col(url) if isinstance(url, str) else url
    # capture the scheme BEFORE discarding it: only a scheme's OWN
    # default port is droppable (https://h:80/ is a non-default origin
    # and must NOT conflate with http://h/); scheme-less input keeps
    # the lenient both-defaults-drop behavior
    scheme = F.lower(F.regexp_extract(c, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    rest = F.regexp_replace(c, r"^[A-Za-z][A-Za-z0-9+.-]*://", "")
    rest = F.substring_index(rest, "#", 1)  # fragment is never a key
    # authority = up to the first '/' OR '?' (a query can precede any
    # slash); then strip userinfo (last '@')
    auth = F.substring_index(F.substring_index(rest, "/", 1), "?", 1)
    hostport = F.lower(F.substring_index(auth, "@", -1))
    is_v6 = hostport.startswith("[")
    port = F.when(
        is_v6, F.regexp_extract(hostport, r"\]:(\d+)$", 1)
    ).otherwise(F.regexp_extract(hostport, r":(\d+)$", 1))
    host = F.when(
        is_v6, F.regexp_extract(hostport, r"^\[([^\]]*)\]", 1)
    ).otherwise(F.regexp_replace(hostport, r":\d+$", ""))
    host = F.regexp_replace(host, r"^www\.", "")
    # IPv6 literals keep their colon form un-reversed (groups are not
    # dot labels); everything else label-reverses
    rev_host = F.when(is_v6, host).otherwise(
        F.array_join(F.reverse(F.split(host, r"\.")), ",")
    )
    default_port = (
        (port == "")
        | ((scheme == "http") & (port == "80"))
        | ((scheme == "https") & (port == "443"))
        | ((scheme == "") & ((port == "80") | (port == "443")))
    )
    rev_host = F.when(default_port, rev_host).otherwise(
        F.concat(rev_host, F.lit(":"), port)
    )
    # path+query = everything after the authority (empty -> "/";
    # query-only -> "/?...")
    pathq = F.substring(rest, F.length(auth) + 1, F.lit(1 << 30))
    pathq = F.when(pathq == "", F.lit("/")).otherwise(
        F.when(
            pathq.startswith("?"), F.concat(F.lit("/"), pathq)
        ).otherwise(pathq)
    )
    path = F.substring_index(pathq, "?", 1)
    query = F.when(
        pathq.contains("?"),
        F.substring(
            pathq, F.length(F.substring_index(pathq, "?", 1)) + 2, F.lit(1 << 30)
        ),
    ).otherwise(F.lit(""))
    sorted_q = F.array_join(F.array_sort(F.split(query, "&")), "&")
    return F.concat(
        rev_host,
        F.lit(")"),
        path,
        F.when(query == "", F.lit("")).otherwise(F.concat(F.lit("?"), sorted_q)),
    )


def surt_host(url: Column | str) -> Column:
    """The SURT host prefix (everything before ``)``) — the per-domain
    partition/dedup key the crawl entries group on."""
    return F.substring_index(surt_url(url), ")", 1)


def surt_domain_blocked(host: Column, blocklist: "list[str]") -> Column:
    """True iff a SURT host is a blocked registered domain or any
    subdomain/port variant of one — the label-boundary PREFIX test the
    reversed-label form makes cheap: ``com,example`` blocks
    ``com,example``, ``com,example,sub`` and ``com,example:8080`` but
    NOT ``com,exampleevil`` (label boundary) and NOT
    ``org,evil,com,example...`` (a suffix-string trap that fools naive
    ``endswith('example.com')`` matching). Unrolled literal
    comparisons — right for config-sized blocklists (plan constants,
    pure codegen). A crawl-scale list (millions of domains) should
    instead extract each host's leading-label prefixes and LEFT SEMI
    join a broadcast blocklist table keyed by prefix — same semantics,
    one broadcast join; and because SURT keys SORT by registered
    domain, a range/cluster layout turns the same test into partition
    pruning."""
    import functools

    checks = [
        (host == b)
        | host.startswith(b + ",")
        | host.startswith(b + ":")
        for b in blocklist
    ]
    return functools.reduce(lambda a, c: a | c, checks)


def registered_domain(host: Column | str) -> Column:
    """Registered domain (eTLD+1) of a SURT host, in the same reversed
    comma form — the node key of the reference pipeline's domain-level
    graph rollup (its GraphAggr step "aggregates the graph to the domain
    level", reference papers/multi_platform_orchestration/
    paper.md:150-155): ``uk,co,shop,cdn`` -> ``uk,co,shop`` (subdomains
    collapse) but ``io,github,blog`` -> ``io,github,blog`` (github.io is
    itself a public suffix, so each user site is its own registered
    domain).

    Matching replays the publicsuffix.org algorithm against the bounded
    snapshot in :mod:`ascii_hydra_spark.functions.psl` — longest
    matching rule wins, unknown TLDs fall back to the prevailing ``*``
    rule (the bare TLD is the suffix), wildcard TLDs make any 2nd-level
    label a suffix. Because SURT hosts are label-REVERSED, a suffix rule
    is a leading-label PREFIX here, so the probe is: join the first 2
    (and 3) labels and test set membership via ``isin`` — Catalyst
    rewrites a >10-value ``In`` to a single hash-set ``InSet`` node, so
    the ~200-rule snapshot costs ONE expression node per probe (a
    literal-array ``array_contains`` form measured multi-MiB codegen
    once the tree was duplicated through when/otherwise branches) —
    pure codegen, no join, no shuffle, identical ``list_contains``
    closed form in DuckDB.

    NULL when no registered domain exists: the host IS a public suffix
    (fewer labels than suffix depth + 1), an IP literal (IPv6 detected
    by >= 2 colons — a host:port has one; IPv4 by an all-digit TLD
    label after SURT reversal), or empty. A ``:port`` is dropped first —
    registered domains are port-less by definition (ports distinguish
    ORIGINS, which is the host-grain key's job, not the domain key's).
    """
    from ascii_hydra_spark.functions import psl

    c = F.col(host) if isinstance(host, str) else host
    is_v6 = F.size(F.split(c, ":")) >= 3
    labels = F.split(F.substring_index(c, ":", 1), ",")
    n = F.size(labels)
    tld = F.element_at(labels, 1)
    p2 = F.array_join(F.slice(labels, 1, 2), ",")
    p3 = F.array_join(F.slice(labels, 1, 3), ",")
    depth = (
        F.when(p3.isin(*psl.SUFFIX_RULES_3), F.lit(3))
        .when(
            p2.isin(*psl.SUFFIX_RULES_2) | tld.isin(*psl.WILDCARD_TLDS),
            F.lit(2),
        )
        .otherwise(F.lit(1))
    )
    return F.when(
        is_v6 | tld.rlike("^[0-9]+$") | (tld == "") | (n <= depth),
        F.lit(None).cast("string"),
    ).otherwise(F.array_join(F.slice(labels, 1, depth + 1), ","))


def luhn_valid(digits: Column | str) -> Column:
    """Luhn mod-10 checksum validity of a digit string — the
    card-number plausibility test a PII/DQ audit wants BEFORE flagging
    13-19 digit runs as payment data (random digit runs pass ~10% of
    the time; real PANs always pass). Delegates to Spark's built-in
    ``luhn_check`` expression (JVM codegen); the DuckDB oracle
    recomputes the same double-every-second-from-the-right fold over
    the digit list."""
    c = F.col(digits) if isinstance(digits, str) else digits
    return F.call_function("luhn_check", c)


def zorder_key(x: Column | str, y: Column | str) -> Column:
    """Morton (Z-order) key: interleave the low 16 bits of two non-negative
    int columns into one sort key. Sorting/clustering files by this key
    gives row-group min/max locality in BOTH dimensions at once — the
    open-format stand-in for Delta OPTIMIZE ZORDER. Plan-time unrolled
    shifts/masks, pure codegen arithmetic, identical formula in ANSI SQL
    (oracle-checkable).
    """
    cx = (F.col(x) if isinstance(x, str) else x).cast("long")
    cy = (F.col(y) if isinstance(y, str) else y).cast("long")
    key = F.lit(0).cast("long")
    for b in range(16):
        key = (
            key
            + F.shiftleft(F.shiftright(cx, b).bitwiseAND(F.lit(1)), 2 * b)
            + F.shiftleft(F.shiftright(cy, b).bitwiseAND(F.lit(1)), 2 * b + 1)
        )
    return key


# language-ID marker stopwords: tiny deterministic per-language lexicons.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a"),
    "de": ("der", "die", "und", "das", "ein"),
    "fr": ("le", "la", "et", "les", "des"),
    "es": ("el", "la", "los", "que", "y"),
    "zh": ("de", "shi", "le", "zai", "he"),
}


def lang_marker_score(tokens: Column, lang: str) -> Column:
    """#tokens that are marker stopwords for `lang` (n-gram heuristic core)."""
    markers = F.array(*[F.lit(m) for m in LANG_MARKERS[lang]])
    return F.size(F.filter(tokens, lambda t: F.array_contains(markers, t)))


def quality_score(text: Column | str) -> Column:
    """Deterministic document quality heuristic in [0,1]:
    0.4 * length_score + 0.3 * alpha_ratio + 0.3 * (1 - repetition_ratio).

    - length_score: min(1, n_chars/500)
    - alpha_ratio: fraction of chars that are [a-z ] (lowercase fixtures)
    - repetition_ratio: 1 - distinct_tokens/tokens
    SQL-expressible, so the DuckDB oracle can replicate it verbatim.
    """
    c = F.col(text) if isinstance(text, str) else text
    n = F.length(c).cast("double")
    length_score = F.least(F.lit(1.0), n / F.lit(500.0))
    alpha = F.length(F.regexp_replace(c, r"[^a-z ]", "")).cast("double")
    alpha_ratio = F.when(n > 0, alpha / n).otherwise(F.lit(0.0))
    toks = word_tokens(c)
    ntok = F.size(toks).cast("double")
    distinct_ratio = F.when(ntok > 0, F.size(F.array_distinct(toks)).cast("double") / ntok).otherwise(F.lit(1.0))
    return F.lit(0.4) * length_score + F.lit(0.3) * alpha_ratio + F.lit(0.3) * distinct_ratio
