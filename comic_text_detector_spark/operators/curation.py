"""Corpus-curation operators a training-data pipeline runs after dedup:
benchmark decontamination and deterministic downsampling.

Both are pure column-expression plans (no UDF, no driver loop) and both use
the engine-portable md5-derived hash (like operators/dedup.py's md5 mode) so
their outputs are value-checkable against an independent SQL engine.

Scale shapes:

* ``contaminated_docs`` — the benchmark side (eval sets, at most MBs even
  for large suites) broadcasts; the corpus streams through one explode +
  broadcast semi-join + groupBy(doc). No corpus-vs-corpus join exists, so
  cost is linear in corpus n-grams at any corpus size.
* ``hash_sample`` — embarrassingly parallel filter: each row's keep/drop
  decision is a pure function of its key, so the sample is reproducible
  across runs, engines, and repartitioning (unlike ``df.sample``, whose
  output depends on partitioning), and survives resume/backfill without
  double-sampling. This determinism is what training pipelines need for
  auditable mixtures (reference analog: fixed-seed shuffling in
  /root/reference/train_db.py:33-38 — reproducibility by construction).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.links import host_of
from .dedup import md5_long, shingles


def hash_uniform(key: Column, salt: str = "sample") -> Column:
    """Deterministic uniform in [0, 1): ``md5_long`` of ``salt:key``
    divided by 2^32. Identical arithmetic in DuckDB:
    ``('0x'||substr(md5(s),1,8))::BIGINT / 4294967296.0``."""
    h = md5_long(F.concat_ws(":", F.lit(salt), key.cast("string")))
    return h / F.lit(float(1 << 32))


def hash_sample(
    df: DataFrame,
    key_col: str,
    rate: float | None = None,
    rates_by: str | None = None,
    rates: dict[str, float] | None = None,
    salt: str = "sample",
) -> DataFrame:
    """Deterministic (re-runnable) sample: keep a row iff
    hash_uniform(key) < rate.

    Either a flat ``rate``, or stratified ``rates`` keyed by the values of
    column ``rates_by`` (strata absent from the dict are dropped — explicit
    mixture weights, the usual way a web corpus is rebalanced by
    language/source/quality bucket).
    """
    u = hash_uniform(F.col(key_col), salt)
    if rate is not None:
        return df.filter(u < F.lit(rate))
    if not rates or rates_by is None:
        raise ValueError("need rate= or (rates_by=, rates=)")
    thresh = None
    for value, r in sorted(rates.items()):
        cond = F.col(rates_by) == F.lit(value)
        thresh = F.when(cond, F.lit(r)) if thresh is None else thresh.when(cond, F.lit(r))
    return df.filter(u < thresh.otherwise(F.lit(0.0)))


def normalize_url(url: Column) -> Column:
    """Canonical URL for crawl-level dedup: lowercase scheme+host, strip
    the fragment, strip tracking query params (utm_*, gclid, fbclid), drop
    an empty leftover '?' and any trailing slash on the path (root
    included: 'http://h/' ≡ 'http://h', the RFC-equivalent form).

    The url is SPLIT into scheme+host / path / query first and each part
    is normalized in isolation — a literal '&' or 'gclid=' inside a path
    segment, or a query value ending in '/', must never be touched (the
    one-regex-over-the-whole-string version corrupted exactly those,
    per review). Pure regexp/concat exprs in the RE2∩Java dialect, so
    exact-dedup on the canonical key is oracle-checkable. At 100 TB this
    runs inside the scan projection — no shuffle of its own; the
    downstream dedup shuffles on the SHORTER canonical key.
    """
    u = F.regexp_replace(url, r"#.*$", "")  # fragment
    scheme_host = F.lower(F.regexp_extract(u, r"^([a-zA-Z]+://[^/?]*)", 1))
    rest = F.regexp_replace(u, r"^[a-zA-Z]+://[^/?]*", "")
    path = F.regexp_extract(rest, r"^([^?]*)", 1)
    query = F.regexp_extract(rest, r"\?(.*)$", 1)
    # tracking pairs are stripped from the QUERY only; the sentinel '&'
    # prefix makes every pair '&'-led so one pattern drops any position.
    # Match case-insensitively ('UTM_SOURCE=' is the same tracker) and
    # accept the full utm_* key charset ('utm_source_platform' et al.) —
    # the (?i:...) group and the pattern are RE2 ∩ Java, oracle-mirrored.
    query = F.regexp_replace(
        F.concat(F.lit("&"), query),
        r"&(?i:utm_[a-z0-9_]+|gclid|fbclid)=[^&]*",
        "",
    )
    query = F.regexp_replace(query, r"^&", "")
    path = F.regexp_replace(path, r"/$", "")
    return F.concat(
        scheme_host,
        path,
        F.when(query != "", F.concat(F.lit("?"), query)).otherwise(F.lit("")),
    )


def surt_key(url: Column) -> Column:
    """SURT (Sort-friendly URI Reordering Transform) key, the Wayback/
    Common Crawl index ordering: canonicalize (``normalize_url``), then
    lowercase everything, strip the scheme, any userinfo (the host is
    ``host_of``'s), default :80/:443 ports and a leading ``www.``, and
    reverse the host labels comma-joined —
    ``https://www.News.Example.org/a?q=1`` → ``org,example,news)/a?q=1``.

    Why at scale: sorting/bucketing a 10^12-row crawl index by SURT key
    co-locates every page of a registered domain AND all its subdomains
    in one contiguous key range, so per-domain scans (policy checks,
    takedowns, domain-level stats) become range scans instead of full
    passes — the same pruning argument as ``zorder_key`` but for the
    host hierarchy. Pure regexp/array exprs, oracle-replayable."""
    u = F.lower(normalize_url(url))
    hostport = host_of(u)
    rest = F.regexp_replace(u, r"^[a-z]+://[^/?]*", "")
    # the port is split off BEFORE label reversal and re-attached after
    # (dropped when default) — 'www.example.org:8080' must become
    # 'org,example:8080)', not carry ':8080' on the reversed last label
    port = F.regexp_extract(hostport, r":(\d+)$", 1)
    host = F.regexp_replace(hostport, r":\d+$", "")
    host = F.regexp_replace(host, r"^www\.", "")
    rev = F.array_join(F.reverse(F.split(host, r"\.")), ",")
    keep_port = F.when(
        port.isin("", "80", "443"), F.lit("")
    ).otherwise(F.concat(F.lit(":"), port))
    return F.concat(rev, keep_port, F.lit(")"), rest)


def line_freq_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    max_doc_freq: int = 2,
) -> DataFrame:
    """CCNet-style boilerplate line removal: split each document into lines,
    drop every line that occurs in MORE than ``max_doc_freq`` distinct
    documents (cookie banners, nav bars, subscribe prompts), reassemble the
    survivors in original order → (id, text, n_lines_in, n_lines_kept).

    Whitespace-only lines are EXEMPT from the drop decision (they would
    otherwise hit the frequency cap in any real corpus and strip every
    paragraph break corpus-wide); CCNet applies the same short-line
    exemption. ``sep`` is taken literally — regex metachars are escaped
    before the split, matching the literal join on reassembly.

    Shape at scale: explode → one md5 groupBy for per-line document
    frequencies (map-side combined) → join back on the line hash → one
    groupBy(id) with an ordered array_sort reassembly. The join-back's
    build side is pre-filtered to the VIOLATORS only (df > max_doc_freq —
    the boilerplate heavy-hitters, a tiny fraction of the distinct-line
    table) and broadcast, so the Zipf-skewed line-hash key ('subscribe
    now' appearing once per doc) can never SMJ-skew: the probe side
    streams with no exchange. Empty documents and documents whose every
    line is boilerplate survive with text='' (the row is not lost —
    losing it would silently shrink the corpus).

    (An r6 rewrite that decided drops on narrow rows and reassembled
    per-row via an id-keyed join measured 3.6x SLOWER here: in any corpus
    where most docs carry at least one boilerplate line the dropped-
    positions frame is corpus-sized, so the join sorts and reshuffles the
    full text — strictly worse than this shape's single map-combined
    line exchange. Kept as measured evidence, not a TODO.)
    """
    import re

    lines = df.select(
        F.col(id_col).alias("id"),
        F.posexplode_outer(
            F.split(F.coalesce(F.col(text_col), F.lit("")), re.escape(sep))
        ).alias("pos", "line"),
    ).withColumn("h", F.md5(F.col("line")))
    freq = lines.groupBy("h").agg(F.count_distinct("id").alias("df"))
    # only violators matter for the drop decision; absent-from-build = keep
    boiler = F.broadcast(freq.filter(F.col("df") > max_doc_freq))
    kept = lines.join(boiler, "h", "left").withColumn(
        "keep",
        F.col("df").isNull() | (F.trim(F.col("line")) == ""),
    )
    return (
        kept.groupBy("id")
        .agg(
            F.count(F.when(F.col("line").isNotNull(), 1)).alias("n_lines_in"),
            F.count(F.when(F.col("keep") & F.col("line").isNotNull(), 1)).alias(
                "n_lines_kept"
            ),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("keep"),
                                F.struct(F.col("pos"), F.col("line")),
                            )
                        )
                    ),
                    lambda s: s["line"],
                ),
                sep,
            ).alias("text"),
        )
        .select(
            F.col("id").alias(id_col),
            "text",
            F.col("n_lines_in").cast("bigint").alias("n_lines_in"),
            F.col("n_lines_kept").cast("bigint").alias("n_lines_kept"),
        )
    )


def robots_filter(
    urls: DataFrame,
    rules: DataFrame,
    url_col: str = "url",
    host_col: str = "host",
    prefix_col: str = "path_prefix",
    allow_col: str = "allow",
) -> DataFrame:
    """Keep only urls a robots ruleset permits: rules are (host,
    path_prefix, allow) rows, where ``path_prefix`` is a full RFC 9309
    path PATTERN — a prefix match by default, with ``*`` matching any
    character run anywhere in the pattern and a trailing ``$`` anchoring
    the match to the end of the path (RFC 9309 §2.2.3: ``/*.pdf$`` blocks
    every path ending in '.pdf'). The MOST SPECIFIC matching rule for the
    url's host decides: specificity counts the pattern's LITERAL octets
    (wildcards and the ``$`` anchor don't count — ``/p/specific`` beats
    ``/*``); on a specificity tie allow wins (§2.2.2). A host with no
    matching rule defaults to allowed.

    Pattern → regex translation is pure column exprs in the RE2 ∩ Java
    dialect (escape metachars except ``*``, then ``*`` → ``.*``, anchor
    ``^`` and optionally ``$``), so a SQL oracle replays the translation
    AND the match byte-for-byte. Percent-encoding equivalence (§2.2.2's
    %-decode note) is out of scope: patterns and paths are compared as
    the literal octets the caller stored.

    Shape: rules tables are tiny next to a crawl (one row per directive),
    so the per-host rule GROUP collapses to one array row and broadcast-
    joins onto the crawl; the decision is then a per-row array fold
    (startswith fast path for plain-prefix rules, regexp_like otherwise)
    and the allowed rows survive a plain filter. ZERO exchanges of the
    crawl: the previous decisions-per-distinct-(host,path) formulation
    paid a distinct, a groupBy, and a full-width join-back — three
    corpus-scale shuffles, the last one carrying every payload column —
    for a decision that crawl urls (mostly unique paths) never actually
    shared. Rules-per-host is bounded by the robots.txt size, so the
    per-row fold is O(rules) with the same total rule-evaluation count
    the distinct path had. Duplicate url rows each keep their own row.

    Rows with a null url are DROPPED explicitly (they have no host to
    match, and a null join key would silently vanish in the join-back
    anyway — better an explicit documented drop than a leak).
    """
    # the host is host_of's (lowercased, userinfo dropped); the match
    # path strips the fragment first and treats an empty or query-only
    # path as '/' (RFC 9309: the match target for 'https://h?x=1' is
    # '/?x=1', which Disallow:/ must catch)
    u0 = F.regexp_replace(F.col(url_col), r"#.*$", "")
    raw_path = F.regexp_replace(u0, r"^[a-zA-Z]+://[^/?]*", "")
    path = F.when(raw_path == "", F.lit("/")).otherwise(
        F.when(
            raw_path.startswith("?"), F.concat(F.lit("/"), raw_path)
        ).otherwise(raw_path)
    )
    u = (
        urls.filter(F.col(url_col).isNotNull())
        .withColumn("__host", host_of(F.col(url_col)))
        .withColumn("__path", path)
    )
    # rule pattern → (anchored?, regex, literal-octet specificity):
    # strip a trailing '$', escape every regex metachar EXCEPT '*', turn
    # '*' into '.*', anchor at '^'. Identical exprs replay in the oracle.
    anch = F.col(prefix_col).endswith("$")
    body = F.when(
        anch, F.expr(f"substring(`{prefix_col}`, 1, length(`{prefix_col}`)-1)")
    ).otherwise(F.col(prefix_col))
    esc = F.regexp_replace(body, r"([.^$+?(){}\[\]\\|])", r"\\$1")
    rx = F.concat(
        F.lit("^"),
        F.regexp_replace(esc, r"\*", ".*"),
        F.when(anch, F.lit("$")).otherwise(F.lit("")),
    )
    r = rules.select(
        F.lower(F.col(host_col)).alias("__host"),
        rx.alias("__rx"),
        # plain-prefix rules (no '*', no '$' anchor — the overwhelming
        # majority of real robots directives) take a literal startswith,
        # because `rlike` with a non-literal pattern recompiles the regex
        # for every (path, rule) row; semantics are identical (the regex
        # for such a rule is the fully-escaped pattern anchored at '^')
        (~anch & ~F.col(prefix_col).contains("*")).alias("__simple"),
        body.alias("__body"),
        F.length(F.replace(body, F.lit("*"), F.lit(""))).alias("__spec"),
        F.col(allow_col).alias("__allow"),
    )
    # one array row per host (bounded by the robots.txt size), broadcast
    # onto the crawl; the decision is a per-row fold over that array — no
    # distinct, no groupBy, no join-back, so the crawl's payload columns
    # never cross an exchange
    rh = r.groupBy("__host").agg(
        F.collect_list(
            F.struct("__simple", "__body", "__rx", "__spec", "__allow")
        ).alias("__rules")
    )
    pathc = F.col("__path")
    hits = F.filter(
        F.col("__rules"),
        # null __rx (null rule pattern) yields a null predicate, which
        # filter() treats as false — same exclusion the old
        # rx.isNotNull() guard enforced
        lambda x: F.when(
            x["__simple"], pathc.startswith(x["__body"])
        ).otherwise(F.regexp_like(pathc, x["__rx"])),
    )
    # most literal octets wins; on equal specificity allow wins
    # (RFC 9309 §2.2.2); no matching rule (or no rules for the host:
    # null array) → allowed
    best = F.array_max(
        F.transform(
            hits,
            lambda x: F.struct(
                x["__spec"].alias("l"), x["__allow"].alias("a")
            ),
        )
    )
    return (
        u.join(F.broadcast(rh), "__host", "left")
        .filter(F.coalesce(best["a"], F.lit(True)))
        .drop("__host", "__path", "__rules")
    )


def word_doc_freq_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, n_distinct_words, mean_word_df): mean corpus document-frequency
    of each document's distinct words — the cheap LM-free quality proxy CC
    pipelines use (documents made of common corpus words score high,
    gibberish/boilerplate-of-rare-tokens scores low; threshold per corpus).

    Exact arithmetic end to end (bigint counts, ONE IEEE division at the
    end), so the score is value-checkable against an independent engine at
    full precision. Shape: explode distinct words → one groupBy for corpus
    df → equi-join back → one groupBy(id). The frequency table is
    vocabulary-sized (natural-language vocabularies are a few hundred MB
    even at web scale), so it is BROADCAST — the word key is Zipf-skewed
    ('the' appears in nearly every doc) and a shuffled join would put the
    whole corpus's hottest key through one reducer.

    Empty tokens (null text, consecutive/leading/trailing spaces) are
    filtered BEFORE counting — a '' pseudo-word would otherwise have a
    huge corpus df and score empty documents as highest-quality, inverting
    the signal. Documents with no words at all are absent from the output
    (callers decide their fate explicitly; a score would be meaningless).
    """
    words = df.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.array_distinct(F.split(F.coalesce(F.col(text_col), F.lit("")), " "))
        ).alias("w"),
    ).filter(F.col("w") != "")
    # (id, w) pairs are already distinct after array_distinct, so a plain
    # count is exact — no count_distinct hash-dedup pass needed
    freq = F.broadcast(words.groupBy("w").agg(F.count("id").alias("wdf")))
    return (
        words.join(freq, "w")
        .groupBy("id")
        .agg(
            F.count("*").cast("bigint").alias("n_distinct_words"),
            (F.sum("wdf") / F.count("*")).alias("mean_word_df"),
        )
        .withColumnRenamed("id", id_col)
    )


def substring_dup_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 20,
    min_len: int = 50,
    select_mod: int = 1,
    merge_gap: int | None = None,
) -> DataFrame:
    """Span-level exact-substring dedup (the Lee et al. 2022 "Deduplicating
    Training Data Makes Language Models Better" operation, recast from
    suffix arrays to a linear fingerprint-bucket plan): emit
    (doc, start_pos, end_pos) CUT SPANS for every maximal run of length ≥
    ``min_len`` chars whose every ``k``-gram also occurs in at least one
    OTHER document. ``line_freq_dedup`` catches repeated lines; this
    catches long verbatim passages that cross line boundaries or sit
    inside otherwise-unique documents (licence blocks, syndicated
    paragraphs, templated boilerplate).

    Semantics: a character position is "shared" when the k-gram starting
    there appears in ≥ 2 distinct documents (within-document repetition
    alone never triggers — the count is per distinct doc). Maximal runs of
    shared positions (gaps ≤ ``merge_gap``, default k) become spans
    [min_pos, max_pos + k - 1], 1-based inclusive, ready for substring()
    cuts. Any true cross-document verbatim passage of length ≥ min_len
    is fully covered by such a run (every one of its k-grams is shared),
    so recall is exact; precision admits gram-mosaics stitched from
    different partners — the standard trade every bucketed substring
    dedup makes (a suffix-array join would need a global sort at 100 TB).

    Scale shape: positions explode once per frequency pass and once per
    join-back (two cheap scan+explode passes — md5 per gram, no parse);
    both exchanges are keyed on the gram hash with map-side partial
    aggregation, and the run assembly is one per-doc collected-array fold. At 100 TB
    set ``select_mod`` ≈ k to winnow positions by hash (1/select_mod of
    the grams survive): resolution drops to ~select_mod chars — pass
    ``merge_gap ≈ k + select_mod`` and treat min_len as approximate —
    while both explode volumes shrink by the same factor. The gram
    BUCKET hash is md5 (portable), so at select_mod=1 the whole pipeline
    is oracle-checkable; the winnow SELECTION hash (select_mod>1 only)
    is engine-fast xxhash64 — selection needs only content-determinism,
    and the approximate winnowed mode has no exact-replay contract.
    """
    if merge_gap is None:
        merge_gap = k
    # Position build: explode the position SEQUENCE (ints only), then run
    # the winnow filter and the gram digest as whole-stage-codegen
    # projections (codegen beat the array-side interpreted-lambda
    # formulation in every measured variant; within one codegen stage the
    # carried text column is a streamed reference, never a per-row copy —
    # it is projected away before the persist boundary).
    #
    # The winnow selects 1-in-mod by a content hash of the gram so the
    # same passage selects the same positions in every document — but the
    # SELECTION hash is xxhash64 (one JVM intrinsic), not md5: selection
    # only needs determinism, and digesting every position with md5 just
    # to throw 7/8 away cost ~1/3 of the whole build (measured 9.0 s →
    # 6.0 s on the 320k-doc curate corpus). The md5 — the portable bucket
    # key — is computed for SURVIVORS only. With select_mod=1 (every
    # declared oracle query) no filter exists and the md5-per-position
    # plan is byte-identical to before.
    #
    # The persisted/shuffled gram key is unhex(md5): 16 raw bytes instead
    # of the 32-char hex string. unhex of an md5 digest is injective, so
    # grouping and joining on the binary value forms EXACTLY the same
    # groups — no collision risk, same rows — while the frequency pass
    # and the join-back move half the key bytes (measured 18.1 s →
    # 13.3 s for the two legs, identical 8.7M-row hit set).
    #
    # The surviving positions persist: the frequency pass and the
    # join-back both consume this frame, and without the cache the whole
    # digest-per-position subtree executes twice. The returned plan reads
    # the cache, so it cannot be released here: it stays in the session's
    # cache until the session ends or someone clears it.
    from pyspark import StorageLevel

    pos = df.select(
        F.col(id_col).alias("id"),
        F.col(text_col).alias("__t"),
        F.explode(
            F.when(
                F.length(text_col) >= k,
                F.expr(f"sequence(1, length(`{text_col}`) - {k - 1})"),
            ).otherwise(F.array().cast("array<int>"))
        ).alias("p"),
    )
    if select_mod > 1:
        pos = pos.filter(
            F.expr(
                f"pmod(xxhash64(substring(__t, p, {k})), {select_mod}) = 0"
            )
        )
    pos = pos.select(
        "id", "p", F.unhex(F.md5(F.expr(f"substring(__t, p, {k})"))).alias("h")
    )
    # DISK_ONLY: the position table is corpus-scale; memory-backed
    # unroll would compete with the frequency aggregate's execution
    # memory in the very stage that materializes the cache (observed
    # AGGREGATE_OUT_OF_MEMORY at the 3M-doc curate scale on an 8 GB
    # local-mode heap)
    pos = pos.persist(StorageLevel.DISK_ONLY)
    # "appears in >= 2 distinct docs" == min(id) != max(id): unlike
    # count_distinct(id), whose partial aggregate expands its hash state
    # to (h, id) pairs — corpus-scale map-side state that OOMed the
    # 3M-doc curate run — min/max keep ONE entry per gram hash and the
    # null/single-doc cases agree (nulls are ignored by both forms; a
    # single-doc gram has min == max).
    shared = (
        pos.groupBy("h")
        .agg(F.min("id").alias("__i0"), F.max("id").alias("__i1"))
        .filter(F.col("__i0") != F.col("__i1"))
        .select("h")
    )
    # SHUFFLE_HASH on the shared-gram side: the join-back's build side is
    # the duplicated-gram hash list — far smaller than the position table
    # but (in heavily-duplicated corpora) above the broadcast threshold,
    # so the planner's default sort-merge paid a full sort of BOTH sides.
    # Hashing the small side skips both sorts (measured 9.8 s → 7.1 s on
    # the 320k-doc curate corpus); strategy hint only, same rows.
    hits = pos.join(shared.hint("shuffle_hash"), "h").select("id", "p")
    # Run assembly: ONE groupBy(id) with a map-side-combined collect_list,
    # then a per-doc array_sort + aggregate fold that walks the sorted
    # positions and emits (start, end, count) islands. The previous
    # window formulation (lag → brk, running sum → run_id, then a SECOND
    # exchange for the groupBy(id, run_id)) paid a full sort of the hit
    # table plus two window passes plus two exchanges — measured 15.7 s →
    # 8.4 s on this leg at the 320k-doc curate scale with an identical
    # 878,987-span result. Per-doc position counts are bounded by
    # doc_length / select_mod, so the collected arrays are always smaller
    # than the documents they came from.
    sentinel = -(1 << 30)
    acc0 = F.struct(
        F.array().cast("array<struct<s:int,e:int,n:int>>").alias("sp"),
        F.lit(0).alias("s"),
        F.lit(sentinel).alias("prev"),
        F.lit(0).alias("n"),
    )

    def _flush(acc):
        return F.when(
            acc["n"] > 0,
            F.concat(
                acc["sp"],
                F.array(
                    F.struct(
                        acc["s"].alias("s"),
                        (acc["prev"] + (k - 1)).alias("e"),
                        acc["n"].alias("n"),
                    )
                ),
            ),
        ).otherwise(acc["sp"])

    def _step(acc, p):
        return F.when(
            (p - acc["prev"]) <= merge_gap,
            F.struct(
                acc["sp"].alias("sp"),
                acc["s"].alias("s"),
                p.alias("prev"),
                (acc["n"] + 1).alias("n"),
            ),
        ).otherwise(
            F.struct(
                _flush(acc).alias("sp"),
                p.alias("s"),
                p.alias("prev"),
                F.lit(1).alias("n"),
            )
        )

    spans = (
        hits.groupBy("id")
        .agg(F.array_sort(F.collect_list("p")).alias("ps"))
        .select(
            "id",
            F.explode(F.aggregate(F.col("ps"), acc0, _step, _flush)).alias(
                "r"
            ),
        )
        .select(
            "id",
            F.col("r.s").alias("start_pos"),
            F.col("r.e").alias("end_pos"),
            F.col("r.n").alias("n_grams"),
        )
    )
    return (
        spans.filter(F.col("end_pos") - F.col("start_pos") + 1 >= min_len)
        .select(
            F.col("id").alias(id_col),
            F.col("start_pos").cast("bigint").alias("start_pos"),
            F.col("end_pos").cast("bigint").alias("end_pos"),
            (F.col("end_pos") - F.col("start_pos") + 1)
            .cast("bigint")
            .alias("span_len"),
            F.col("n_grams").cast("bigint").alias("n_grams"),
        )
    )


def cut_spans(
    df: DataFrame,
    spans: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    start_col: str = "start_pos",
    end_col: str = "end_pos",
) -> DataFrame:
    """Apply ``substring_dup_spans`` output: delete each doc's flagged
    [start_pos, end_pos] character ranges (1-based inclusive) and return
    (id, text_cut, n_cut_spans, n_chars_cut) — the second half of the Lee
    et al. 2022 recipe (find the duplicated passages, then CUT them rather
    than drop whole documents).

    Pure column exprs: spans collect per doc into a sorted array (bounded:
    spans per doc, not corpus-wide) and one ``aggregate`` fold stitches
    the kept segments with ``substr`` — no UDF, no explode of characters.
    Overlapping or out-of-order spans degrade gracefully (the fold clamps
    to the running cursor). Docs without spans pass through untouched via
    the left join (no row is lost).

    Survivor policy: ``substring_dup_spans`` flags EVERY occurrence (its
    doc-frequency test is symmetric), so cutting removes the passage from
    all copies. To keep one canonical copy instead, filter the spans
    frame before calling (e.g. exempt the doc with the smallest
    ``md5_long(id)`` among each bucket's members) — policy belongs to the
    caller, not the operator.
    """
    sp = spans.groupBy(F.col(id_col).alias("id")).agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col(start_col).cast("long").alias("s"),
                    F.col(end_col).cast("long").alias("e"),
                )
            )
        ).alias("sp")
    )
    j = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("t")).join(
        sp, "id", "left"
    )
    acc0 = F.struct(
        F.lit(1).cast("long").alias("pos"), F.lit("").alias("out")
    )

    def step(acc, s):
        start = F.greatest(s["s"], acc["pos"])
        return F.struct(
            F.greatest(s["e"] + 1, acc["pos"]).alias("pos"),
            F.concat(
                acc["out"],
                F.col("t").substr(
                    acc["pos"],
                    F.greatest(F.lit(0).cast("long"), start - acc["pos"]),
                ),
            ).alias("out"),
        )

    def fin(acc):
        return F.concat(
            acc["out"],
            F.col("t").substr(
                acc["pos"],
                F.greatest(
                    F.lit(0).cast("long"), F.length("t") - acc["pos"] + 1
                ),
            ),
        )

    # two projections so the fold evaluates ONCE (Catalyst does not CSE
    # lambda trees; referencing the cut column from a child Project does)
    stitched = j.select(
        "id",
        "t",
        "sp",
        F.when(F.col("sp").isNull(), F.col("t"))
        .otherwise(F.aggregate(F.col("sp"), acc0, step, fin))
        .alias("text_cut"),
    )
    return stitched.select(
        F.col("id").alias(id_col),
        "text_cut",
        F.coalesce(F.size("sp"), F.lit(0)).cast("bigint").alias("n_cut_spans"),
        (F.length("t") - F.length("text_cut"))
        .cast("bigint")
        .alias("n_chars_cut"),
    )


def quality_logit(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 1 << 18,
    weights: dict[int, int] | None = None,
    salt: str = "qw",
) -> DataFrame:
    """Hashing-trick linear quality classifier (the fastText-shape scorer;
    Joulin et al. 2016's bag-of-hashed-features + linear layer, which is
    what CCNet/web-pipeline quality filters actually deploy): each word
    hashes into one of ``n_buckets`` feature buckets, the document's logit
    is the sum of its buckets' weights (bag semantics — repeats count).

    Weights are integer MILLI-units so the per-document sum is an exact
    bigint in any engine; the single IEEE division by 1000 at the end
    makes the logit bit-identical cross-engine (the usual float-dot would
    be accumulation-order dependent). ``weights`` maps bucket → int
    milliweight for a trained model (absent buckets weigh 0, the sparse
    representation a real classifier ships); ``None`` derives a
    deterministic pseudo-weight per bucket from md5(salt:bucket) — the
    oracle-checkable default used by the gate. Documents with no words
    are absent from the output (a score for nothing is meaningless;
    callers decide their fate, same contract as word_doc_freq_score).

    Shape (default weights): explode → pure column arithmetic → one
    groupBy(doc) with map-side partial agg — no joins, no UDF, no
    vocabulary table at all; the hashing trick exists precisely so the
    100 TB path carries no dictionary. A TRAINED ``weights`` dict becomes
    a broadcast left join against a (bucket, milliweight) frame — a real
    fastText-shape model has 10^4-10^6 nonzero buckets, far past what a
    chained CASE expression tolerates (quadratic Catalyst analysis, per-
    row linear evaluation), while a model-sized broadcast is trivial."""
    words = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.coalesce(F.col(text_col), F.lit("")), " ")).alias("w"),
    ).filter(F.col("w") != "")
    b = md5_long(F.col("w")) % n_buckets
    if weights is None:
        # the pseudo-weight is a function of the BUCKET alone, so derive
        # it once per bucket in a generated (b, wi) table and broadcast-
        # join it, instead of re-digesting md5(salt:bucket) per WORD —
        # one md5 + one hash probe per token instead of two md5s plus a
        # string concat (measured 2.8 s → 2.2 s on the 320k-doc curate
        # corpus; values identical, b is always in [0, n_buckets) so the
        # inner join never drops a token)
        wtab = df.sparkSession.range(n_buckets).select(
            F.col("id").alias("b"),
            (
                md5_long(
                    F.concat_ws(":", F.lit(salt), F.col("id").cast("string"))
                )
                % 2001
                - 1000
            ).alias("mw"),
        )
        scored = (
            words.select("id", b.cast("long").alias("b"))
            .join(F.broadcast(wtab), "b")
            .select("id", F.col("mw").alias("wi"))
        )
    elif not weights:  # explicit all-zero model: every token weighs 0
        scored = words.select("id", F.lit(0).cast("long").alias("wi"))
    else:
        wdf = df.sparkSession.createDataFrame(
            sorted(weights.items()), "b long, mw long"
        )
        scored = (
            words.select("id", b.cast("long").alias("b"))
            .join(F.broadcast(wdf), "b", "left")
            .select("id", F.coalesce(F.col("mw"), F.lit(0)).alias("wi"))
        )
    return (
        scored.groupBy("id")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            (F.sum("wi") / F.lit(1000.0)).alias("logit"),
        )
        .withColumnRenamed("id", id_col)
    )


def contaminated_docs(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
) -> DataFrame:
    """(id, n_shared) for every corpus doc sharing at least one word
    ``n``-gram with the benchmark set — the decontamination pass run before
    training so eval data cannot leak into the corpus.

    The benchmark's distinct n-gram set broadcasts (eval suites are tiny
    next to the corpus); corpus docs explode once to distinct n-grams, the
    broadcast inner join keeps only overlapping grams, and a groupBy(doc)
    counts them. ``n_shared`` = number of DISTINCT benchmark n-grams the
    doc contains (the triage signal: 1 shared 5-gram is usually a stock
    phrase, 50 is a verbatim inclusion).
    """
    bgrams = (
        benchmark.select(
            F.explode(F.array_distinct(shingles(F.col(text_col), n))).alias("g")
        )
        .distinct()
    )
    cgrams = corpus.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(shingles(F.col(text_col), n))).alias("g"),
    )
    return (
        cgrams.join(F.broadcast(bgrams), "g")
        .groupBy("id")
        .agg(F.count("*").alias("n_shared"))
    )


def schedule_frontier(
    df: DataFrame,
    url_col: str = "url",
    n_workers: int = 64,
    per_host_delay_ms: int = 1000,
    host_delays: DataFrame | None = None,
) -> DataFrame:
    """Politeness-aware crawl-frontier scheduling: (url, host, worker,
    slot, fetch_at_ms), the host taken from the url by ``host_of``.
    Every url of a host lands on the SAME worker
    (md5 host affinity — politeness needs one rate-limit owner per host),
    urls within a host take deterministic md5-ordered slots, and
    ``fetch_at_ms = slot * delay`` spaces same-host fetches — where
    ``delay`` is the host's row in ``host_delays`` (host, delay_milli —
    e.g. ``robots_crawl_delay`` output, broadcast: one row per polite
    host; its host is lowercased to meet ``host_of``'s) when given,
    else ``per_host_delay_ms``.

    Pure column exprs + one host-keyed window — a single exchange on the
    host key. Zipf-headed hosts are fine: the window only sorts each
    host's own urls (hostless rows are excluded — see inline note), and
    the md5 order key makes the schedule
    reproducible across runs/engines/partitionings (the same property
    ``hash_sample`` gives mixtures). The per-worker load is
    hash-balanced; a genuinely mega-host saturates its one worker BY
    DESIGN — that is the politeness constraint, not a skew bug."""
    if n_workers <= 0:
        raise ValueError(f"n_workers must be positive, got {n_workers}")
    w = Window.partitionBy("host").orderBy(F.col("okey"), F.col("url"))
    ranked = (
        df.select(
            F.col(url_col).alias("url"),
            host_of(F.col(url_col)).alias("host"),
            F.md5(F.concat_ws(":", F.lit("frontier"), F.col(url_col))).alias(
                "okey"
            ),
        )
        # urls with no extractable host (relative/malformed — common link
        # extractor output) are EXCLUDED rather than collapsed into one
        # giant host='' group that would serialize unrelated urls onto a
        # single worker with politeness gaps and a one-task window sort;
        # callers resolve relative urls before scheduling
        .filter(F.coalesce(F.col("host"), F.lit("")) != "")
        .withColumn(
            "worker", (md5_long(F.col("host")) % n_workers).cast("int")
        )
        .withColumn("slot", (F.row_number().over(w) - 1).cast("bigint"))
    )
    delay = F.lit(per_host_delay_ms).cast("bigint")
    if host_delays is not None:
        # collapse to ONE row per host before joining: a per-(host,agent)
        # table like robots_crawl_delay's output would otherwise fan the
        # join out and schedule every url once per agent row; max = the
        # conservative politeness choice (callers pre-select their
        # agent's row for exact semantics — see jobs/frontier_job.py)
        one = host_delays.groupBy(F.lower("host").alias("host")).agg(
            F.max("delay_milli").alias("delay_milli")
        )
        ranked = ranked.join(F.broadcast(one), "host", "left")
        delay = F.coalesce(F.col("delay_milli"), delay)
    return ranked.select(
        "url",
        "host",
        "worker",
        "slot",
        (F.col("slot") * delay).alias("fetch_at_ms"),
    )


def _robots_parsed(
    df: DataFrame,
    host_col: str,
    txt_col: str,
    directives: tuple[str, ...] = ("user-agent", "allow", "disallow"),
) -> DataFrame:
    """(host, fkey, pos, directive, value, is_ua, group_id) for every
    recognized robots.txt line. ``fkey`` (md5 of the file content) keys
    the windows so two fetches of one host (http/https, refetch) parse
    as separate files instead of interleaving nondeterministically —
    a host with several distinct files yields the union of their rules.

    ``directives`` controls which lines participate in the group-boundary
    windows: the rules parse keeps the RFC trio only (so a Sitemap line
    between two User-agent lines does NOT split their group — non-group
    records are transparent per RFC 9309 §2.2.2), while the crawl-delay
    parse adds ``crawl-delay`` so a delay line closes a User-agent run
    exactly like a rule line does."""
    lines = df.select(
        F.col(host_col).alias("host"),
        F.md5(F.coalesce(F.col(txt_col), F.lit(""))).alias("fkey"),
        F.posexplode(
            F.split(F.coalesce(F.col(txt_col), F.lit("")), "\n")
        ).alias("pos", "raw"),
    ).select(
        "host",
        "fkey",
        "pos",
        F.trim(
            F.regexp_replace(F.regexp_replace("raw", "#.*$", ""), "\r", "")
        ).alias("line"),
    )
    parsed = lines.select(
        "host",
        "fkey",
        "pos",
        F.lower(
            F.regexp_extract("line", r"^([A-Za-z-]+)\s*:", 1)
        ).alias("directive"),
        F.trim(F.regexp_extract("line", r"^[A-Za-z-]+\s*:(.*)$", 1)).alias(
            "value"
        ),
    ).filter(F.col("directive").isin(*directives))
    w = Window.partitionBy("host", "fkey").orderBy("pos")
    return (
        parsed.withColumn(
            "is_ua", (F.col("directive") == "user-agent").cast("int")
        )
        .withColumn(
            "group_start",
            (
                (F.col("is_ua") == 1)
                & (F.coalesce(F.lag("is_ua").over(w), F.lit(0)) == 0)
            ).cast("int"),
        )
        .withColumn("group_id", F.sum("group_start").over(w))
    )


def parse_robots_rules(
    df: DataFrame,
    host_col: str = "host",
    txt_col: str = "robots_txt",
) -> DataFrame:
    """Raw robots.txt content → (host, agent, path_prefix, allow) rule
    rows — the front half of the robots pipeline (see
    ``robots_rules_for_agent`` for the RFC group-selection bridge into
    ``robots_filter``).

    RFC 9309 group semantics, relationally: comments strip, lines trim;
    CONSECUTIVE ``User-agent`` lines open a group (one lag window + a
    running sum assign group ids); every Allow/Disallow line after them
    belongs to ALL those agents — materialized in ONE pass as a
    ``collect_set`` of the group's agents over the group window, exploded
    onto each rule row (no self-join, duplicate User-agent lines dedup).
    Agent tokens lowercase per §2.2.1; empty-value ``Disallow:`` lines
    match nothing (the classic allow-everything idiom) and emit no row;
    rules before any User-agent line belong to nobody and drop; unknown
    directives are ignored. Robots files are tiny, so at crawl scale this
    is a narrow shuffle over the distinct-host table, not the corpus."""
    g = _robots_parsed(df, host_col, txt_col)
    gw = Window.partitionBy("host", "fkey", "group_id")
    return (
        g.withColumn(
            "agents",
            F.collect_set(
                F.when(F.col("is_ua") == 1, F.lower(F.col("value")))
            ).over(gw),
        )
        .filter((F.col("is_ua") == 0) & (F.col("value") != ""))
        .select(
            "host",
            F.explode("agents").alias("agent"),
            F.col("value").alias("path_prefix"),
            (F.col("directive") == "allow").alias("allow"),
        )
    )


def robots_agent_hosts(
    df: DataFrame,
    agent: str,
    host_col: str = "host",
    txt_col: str = "robots_txt",
) -> DataFrame:
    """Hosts whose robots.txt declares a group for ``agent`` — presence
    from the User-agent lines themselves (RFC 9309 §2.2.1: even an EMPTY
    own group suppresses the ``*`` fallback). The shared building block
    for rule selection AND crawl-delay selection, so the two stages of a
    frontier job can never apply different group-selection semantics to
    the same file."""
    token = agent.lower()
    g = _robots_parsed(df, host_col, txt_col)
    return (
        g.filter((F.col("is_ua") == 1) & (F.lower(F.col("value")) == token))
        .select("host")
        .distinct()
    )


def robots_rules_for_agent(
    df: DataFrame,
    agent: str,
    host_col: str = "host",
    txt_col: str = "robots_txt",
) -> DataFrame:
    """RFC 9309 §2.2.1 group selection for one crawler: per host, obey
    the crawler's OWN group when one exists — even an EMPTY one, which
    means crawl-everything, NOT fall back — else the ``*`` group.
    (Filtering ``parse_robots_rules`` to ``agent IN (token, '*')`` would
    wrongly union the wildcard group with the specific one.) Returns
    (host, path_prefix, allow) ready for ``robots_filter``."""
    token = agent.lower()
    specific_hosts = robots_agent_hosts(df, agent, host_col, txt_col)
    rules = parse_robots_rules(df, host_col, txt_col)
    own = rules.filter(F.col("agent") == token).join(
        specific_hosts, "host", "left_semi"
    )
    fallback = rules.filter(F.col("agent") == "*").join(
        specific_hosts, "host", "left_anti"
    )
    return own.unionByName(fallback).select("host", "path_prefix", "allow")


def gopher_quality(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len_milli: int = 3000,
    max_mean_word_len_milli: int = 10_000,
    max_sym_word_frac: float = 0.1,
    max_bullet_line_frac: float = 0.9,
    max_ellipsis_line_frac: float = 0.3,
    max_dup_line_frac: float = 0.3,
    max_dup_line_char_frac: float = 0.2,
    min_alpha_word_frac: float = 0.8,
    min_stop_kinds: int = 2,
) -> DataFrame:
    """Gopher-style document quality rules (Rae et al. 2021 §A1.1), the
    standard heuristic battery a web-corpus pipeline runs before any
    learned filter: word-count bounds, mean word length, symbol-word and
    bullet/ellipsis line ratios, duplicate-line row/char fractions, the
    alphabetic-word fraction, and the 8-stopword presence count.

    Everything is pure column expressions over the line/word arrays — no
    explode, no shuffle, no UDF: a single whole-stage-codegen Project that
    is embarrassingly parallel at any corpus size. All counts are exact
    integers; every fraction is ONE IEEE division of two exact ints and
    ``mean_word_len_milli`` is an exact integer ``div``, so the output
    (and the ``keep`` verdict) is value-checkable bit-for-bit against an
    independent engine.

    Duplicate-line fractions exclude EMPTY lines (same discipline as
    ``line_freq_dedup`` — paragraph breaks are structure, not content;
    counting them would flag every multi-paragraph document). Documents
    with no words or no nonempty lines fail ``keep`` outright.

    Line endings normalize first (CRLF/CR → LF) so Windows-crawled pages
    score like Unix ones (a trailing ``\\r`` would defeat the ellipsis
    check and make ``\\r``-only lines count as content), and WORDS split
    on [space, tab, newline] runs — splitting on spaces alone would fuse
    the last word of each line with the first of the next, wrecking the
    word stats for exactly the line-structured documents the battery
    exists to judge.
    """
    stop = F.array(*[F.lit(s) for s in
                     ("the", "be", "to", "of", "and", "that", "have", "with")])
    zero = F.lit(0).cast("long")
    chars = lambda arr: F.aggregate(arr, zero, lambda a, x: a + F.length(x))  # noqa: E731

    norm = F.regexp_replace(
        F.coalesce(F.col(text_col), F.lit("")), "\\r\\n?", "\n"
    )
    arrays = df.select(
        F.col(id_col),
        F.filter(F.split(norm, "\n"), lambda l: l != "").alias("lines"),
        F.filter(F.split(norm, "[ \\t\\n]+"), lambda w: w != "").alias("words"),
    )
    counts = arrays.select(
        id_col,
        F.size("lines").alias("n_lines"),
        (F.size("lines") - F.size(F.array_distinct("lines"))).alias("n_dup_lines"),
        chars(F.col("lines")).alias("line_chars"),
        (chars(F.col("lines")) - chars(F.array_distinct("lines"))).alias("dup_line_chars"),
        F.size(
            F.filter(
                F.col("lines"),
                lambda l: l.startswith("- ") | l.startswith("* ") | l.startswith("•"),
            )
        ).alias("n_bullet"),
        F.size(
            F.filter(
                F.col("lines"),
                lambda l: l.endswith("...") | l.endswith("…"),
            )
        ).alias("n_ellipsis"),
        F.size("words").alias("n_words"),
        chars(F.col("words")).alias("word_chars"),
        F.size(
            F.filter(F.col("words"), lambda w: w.rlike("[A-Za-z]"))
        ).alias("n_alpha_words"),
        F.size(
            F.filter(
                F.col("words"),
                lambda w: w.contains("#") | w.contains("…"),
            )
        ).alias("n_sym_words"),
        F.size(
            F.array_intersect(
                F.array_distinct(F.transform(F.col("words"), F.lower)), stop
            )
        ).alias("n_stop_kinds"),
    )
    nl = F.col("n_lines").cast("double")
    nw = F.col("n_words").cast("double")
    mean_milli = F.expr("word_chars * 1000 div n_words")
    metrics = counts.select(
        "*",
        F.when(F.col("n_words") > 0, mean_milli)
        .otherwise(F.lit(0)).cast("long").alias("mean_word_len_milli"),
        F.when(F.col("n_lines") > 0, F.col("n_dup_lines") / nl)
        .otherwise(F.lit(0.0)).alias("dup_line_frac"),
        F.when(F.col("line_chars") > 0,
               F.col("dup_line_chars") / F.col("line_chars").cast("double"))
        .otherwise(F.lit(0.0)).alias("dup_line_char_frac"),
        F.when(F.col("n_lines") > 0, F.col("n_bullet") / nl)
        .otherwise(F.lit(0.0)).alias("bullet_line_frac"),
        F.when(F.col("n_lines") > 0, F.col("n_ellipsis") / nl)
        .otherwise(F.lit(0.0)).alias("ellipsis_line_frac"),
        F.when(F.col("n_words") > 0, F.col("n_sym_words") / nw)
        .otherwise(F.lit(0.0)).alias("sym_word_frac"),
        F.when(F.col("n_words") > 0, F.col("n_alpha_words") / nw)
        .otherwise(F.lit(0.0)).alias("alpha_word_frac"),
    )
    keep = (
        (F.col("n_words") >= min_words)
        & (F.col("n_words") <= max_words)
        & (F.col("mean_word_len_milli") >= min_mean_word_len_milli)
        & (F.col("mean_word_len_milli") <= max_mean_word_len_milli)
        & (F.col("sym_word_frac") < max_sym_word_frac)
        & (F.col("bullet_line_frac") < max_bullet_line_frac)
        & (F.col("ellipsis_line_frac") < max_ellipsis_line_frac)
        & (F.col("dup_line_frac") < max_dup_line_frac)
        & (F.col("dup_line_char_frac") < max_dup_line_char_frac)
        & (F.col("alpha_word_frac") >= min_alpha_word_frac)
        & (F.col("n_stop_kinds") >= min_stop_kinds)
    )
    return metrics.select(
        id_col, "n_words", "n_lines", "mean_word_len_milli",
        "dup_line_frac", "dup_line_char_frac", "bullet_line_frac",
        "ellipsis_line_frac", "sym_word_frac", "alpha_word_frac",
        "n_stop_kinds", keep.alias("keep"),
    )


def temperature_sample(
    df: DataFrame,
    by: str = "lang",
    alpha: float = 0.5,
    key_col: str = "doc_id",
    salt: str = "temp",
) -> DataFrame:
    """Temperature-based mixture rebalancing (the XLM/mT5 α-sampling
    recipe): sample group ``l`` at rate ``(p_l/p_min)^(α-1)`` so the
    rarest group keeps everything and common groups are downsampled
    toward the flattened distribution ``q_l ∝ p_l^α`` — the standard way
    a multilingual corpus is rebalanced without hand-written rates
    (``hash_sample``'s ``rates=`` is the manual cousin).

    Deterministic end to end: group counts are exact; for the default
    α = 0.5 the rate is ``sqrt(n_min/n_l)`` — one IEEE division of two
    exact bigints and one correctly-rounded sqrt, bit-identical in any
    IEEE engine (general α goes through ``pow``, which engines only
    guarantee to ~1 ulp — fine for sampling, not for oracles). The
    keep decision reuses ``hash_uniform`` (md5-portable), so re-runs,
    repartitionings, and independent engines select the SAME rows.

    Scale: one groupBy over the grouping column (map-side partials), a
    scalar min, and a broadcast join of the group-rate table (one row
    per group) back onto the corpus — the corpus itself is never
    shuffled. Emits the kept rows plus their group ``rate`` for audit.

    NULL group labels (undetected language — common in crawl data) are
    EXCLUDED up front, from both the counts and the output: counting
    them would let a handful of unlabeled docs set ``n_min`` and crush
    every real group's rate, while their rows silently vanished in the
    equi-join anyway. Callers decide unlabeled docs' fate explicitly.
    """
    df = df.filter(F.col(by).isNotNull())
    counts = df.groupBy(by).agg(F.count("*").alias("__n"))
    nmin = counts.agg(F.min("__n").alias("__n_min"))
    if alpha == 0.5:
        rate = F.sqrt(F.col("__n_min") / F.col("__n"))
    else:
        rate = F.pow(F.col("__n") / F.col("__n_min"), F.lit(alpha - 1.0))
    rates = counts.crossJoin(F.broadcast(nmin)).select(
        by, rate.alias("rate")
    )
    u = hash_uniform(F.col(key_col), salt)
    return (
        df.join(F.broadcast(rates), by)
        .filter(u < F.col("rate"))
        .select(*df.columns, "rate")
    )


def robots_sitemaps(
    df: DataFrame,
    host_col: str = "host",
    txt_col: str = "robots_txt",
) -> DataFrame:
    """(host, sitemap) from raw robots.txt bytes. Sitemap records are
    FILE-GLOBAL, not group-scoped (sitemaps protocol: the directive is
    independent of any User-agent group), so this is a plain line parse —
    no windows. Values keep their case (they are URLs); empty values and
    unrecognized lines drop. Distinct per (host, sitemap): a sitemap
    listed twice, or by two fetched copies of the file, emits once."""
    lines = df.select(
        F.col(host_col).alias("host"),
        F.explode(
            F.split(F.coalesce(F.col(txt_col), F.lit("")), "\n")
        ).alias("raw"),
    ).select(
        "host",
        F.trim(
            F.regexp_replace(F.regexp_replace("raw", "#.*$", ""), "\r", "")
        ).alias("line"),
    )
    return (
        lines.filter(
            F.lower(F.regexp_extract("line", r"^([A-Za-z-]+)\s*:", 1))
            == "sitemap"
        )
        .select(
            "host",
            F.trim(F.regexp_extract("line", r"^[A-Za-z-]+\s*:(.*)$", 1)).alias(
                "sitemap"
            ),
        )
        .filter(F.col("sitemap") != "")
        .distinct()
    )


def robots_crawl_delay(
    df: DataFrame,
    host_col: str = "host",
    txt_col: str = "robots_txt",
) -> DataFrame:
    """(host, agent, delay_milli) from raw robots.txt bytes — the
    politeness knob ``schedule_frontier`` consumes. Crawl-delay is
    GROUP-scoped by crawler convention (it rides the same User-agent
    groups as Allow/Disallow; the group machinery includes ``crawl-delay``
    in the boundary windows so a delay line closes a User-agent run like
    a rule line does). Seconds parse as decimals and quantize half-up to
    exact milli integers; unparseable or negative values drop (a bogus
    delay must not silently become 0 — drop-not-fake). Several delays
    for one (host, agent) — refetches, repeated groups — keep the MAX
    (the conservative politeness choice, documented)."""
    g = _robots_parsed(
        df, host_col, txt_col,
        directives=("user-agent", "allow", "disallow", "crawl-delay"),
    )
    gw = Window.partitionBy("host", "fkey", "group_id")
    d = F.expr("try_cast(value AS DOUBLE)")
    return (
        g.withColumn(
            "agents",
            F.collect_set(
                F.when(F.col("is_ua") == 1, F.lower(F.col("value")))
            ).over(gw),
        )
        .filter(F.col("directive") == "crawl-delay")
        .withColumn("d", d)
        .filter(F.col("d").isNotNull() & (F.col("d") >= 0))
        .select(
            "host",
            F.explode("agents").alias("agent"),
            F.floor(F.col("d") * 1000 + 0.5).cast("bigint").alias("delay_milli"),
        )
        .groupBy("host", "agent")
        .agg(F.max("delay_milli").alias("delay_milli"))
    )


def cap_per_host(
    df: DataFrame,
    url_col: str = "url",
    cap: int = 1000,
    salt: str = "hostcap",
) -> DataFrame:
    """Anti-domination cap: keep at most ``cap`` documents per host — the
    curation stage that stops one mirror farm or wiki dump from owning a
    mixture slice. Selection is a DETERMINISTIC uniform draw, not "first
    cap by ingest order": rows rank by the md5 hex digest of
    ``salt:url`` (repartition/re-run/engine invariant, same property as
    ``hash_sample``), so the kept subset is a reproducible random sample
    of each host's pages.

    One window keyed by host (the per-host cut needs per-host order —
    a single exchange; hot hosts are exactly the rows being cut, and the
    window's rank short-circuits at ``cap`` per partition group).
    HOSTLESS rows (relative/malformed/NULL urls — ``host_of`` yields ''
    or NULL) pass through UNCAPPED with ``host_rank`` NULL: they are not
    one pseudo-host, and silently capping them as a group would drop
    unrelated documents (the regexp-no-match-groups-junk trap). They are
    also split out BEFORE the window — the same skew discipline as
    ``schedule_frontier`` — so millions of relative urls never serialize
    into one window-sort task.

    Emits the surviving rows plus ``host`` and ``host_rank`` for audit —
    but only when the input does not already carry a column of that name
    (a crawl corpus often has its own ``host``); pre-existing columns
    pass through UNTOUCHED and the audit column is simply not added, so
    the cap never silently replaces caller data.
    """
    if cap < 1:
        raise ValueError("cap must be >= 1")
    with_host = df.withColumn(
        "__cth_host", F.coalesce(host_of(F.col(url_col)), F.lit(""))
    )
    hostless = with_host.filter(F.col("__cth_host") == "").withColumn(
        "__cth_rank", F.lit(None).cast("int")
    )
    order_key = F.md5(
        F.concat_ws(":", F.lit(salt), F.col(url_col).cast("string"))
    )
    w = Window.partitionBy("__cth_host").orderBy(
        order_key.asc(), F.col(url_col).asc()
    )
    capped = (
        with_host.filter(F.col("__cth_host") != "")
        .withColumn("__cth_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("__cth_rank") <= cap)
    )
    out = capped.unionByName(hostless)
    if "host" not in df.columns:
        out = out.withColumn("host", F.col("__cth_host"))
    if "host_rank" not in df.columns:
        out = out.withColumn("host_rank", F.col("__cth_rank"))
    return out.drop("__cth_host", "__cth_rank")


def parse_sitemap(
    df: DataFrame,
    host_col: str = "host",
    xml_col: str = "sitemap_xml",
) -> DataFrame:
    """Sitemap XML → (host, kind, loc, lastmod, changefreq, priority,
    lastmod_date) rows — the
    step after ``robots_sitemaps`` in the frontier pipeline (sitemaps
    protocol: ``<urlset>`` files list pages, ``<sitemapindex>`` files
    list MORE sitemaps; ``kind`` says which, so a driver loop can fetch
    and re-parse index targets).

    Pure column expressions: ``regexp_extract_all`` pulls each
    ``<url>``/``<sitemap>`` block ((?s) so entries may span lines), one
    explode per kind, then per-block ``<loc>``/``<lastmod>`` extraction —
    no XML library, no UDF, linear in file bytes and oracle-replayable.
    Blocks without a ``<loc>`` drop (a sitemap entry without a url is
    nothing); missing ``<lastmod>`` yields NULL (unknown, not epoch).
    ``lastmod_date`` parses the W3C datetime's date prefix; an
    unparseable value leaves the raw string and a NULL date
    (drop-not-fake). Gzipped sitemaps are the caller's concern (inflate
    before this operator); XML entities in loc (&amp;) are decoded for
    the url column."""
    blocks = []
    for kind, tag in (("url", "url"), ("sitemap", "sitemap")):
        b = df.select(
            F.col(host_col).alias("host"),
            F.lit(kind).alias("kind"),
            F.explode(
                F.regexp_extract_all(
                    F.coalesce(F.col(xml_col), F.lit("")),
                    F.lit(f"(?s)<{tag}>(.*?)</{tag}>"),
                    1,
                )
            ).alias("block"),
        )
        blocks.append(b)
    allb = blocks[0].unionByName(blocks[1])
    loc = F.regexp_extract("block", r"(?s)<loc>\s*(.*?)\s*</loc>", 1)
    lastmod = F.regexp_extract("block", r"(?s)<lastmod>\s*(.*?)\s*</lastmod>", 1)
    changefreq = F.regexp_extract(
        "block", r"(?s)<changefreq>\s*(.*?)\s*</changefreq>", 1
    )
    priority = F.regexp_extract(
        "block", r"(?s)<priority>\s*(.*?)\s*</priority>", 1
    )
    return (
        allb.select(
            "host",
            "kind",
            # &amp; decodes LAST: the escaped sequence '&amp;apos;' must
            # become the literal text '&apos;', not double-decode to "'"
            F.replace(
                F.replace(loc, F.lit("&apos;"), F.lit("'")),
                F.lit("&amp;"), F.lit("&"),
            ).alias("loc"),
            F.when(lastmod != "", lastmod).alias("lastmod"),
            # scheduling hints (sitemaps.org): changefreq normalized to
            # lowercase; priority a double, NULL when absent or
            # non-numeric (drop-not-fake — 'high' is not a priority)
            F.when(changefreq != "", F.lower(changefreq)).alias(
                "changefreq"
            ),
            F.when(
                priority.rlike(r"^[0-9]+(\.[0-9]+)?$"),
                priority.cast("double"),
            ).alias("priority"),
        )
        .filter(F.col("loc") != "")
        .withColumn(
            "lastmod_date",
            # try_to_date: ANSI mode makes to_date THROW on junk values;
            # an unparseable lastmod must yield NULL, not fail the scan
            F.expr("try_to_date(substring(lastmod, 1, 10), 'yyyy-MM-dd')"),
        )
    )


def refetch_candidates(
    sitemap_rows: DataFrame,
    crawled: DataFrame,
    url_col: str = "url",
    ts_col: str = "warc_ts",
) -> DataFrame:
    """Which sitemap-listed pages does a recrawl fetch? (url, reason)
    where reason ∈ {'never_crawled', 'modified'}: pages absent from the
    crawl state, or whose sitemap ``lastmod_date`` is strictly after the
    date of our last capture. Unknown lastmod (NULL) is NOT treated as
    modified — the sitemap gave no evidence; politeness-first recrawl
    policy refetches on schedule, not on absence of information.

    One left join keyed by url (the crawl-state side aggregates to its
    latest capture first — map-side combinable); linear at any scale.
    """
    latest = crawled.groupBy(F.col(url_col).alias("loc")).agg(
        F.max(ts_col).alias("last_ts")
    )
    # one row per loc already — the distinct-loc frame IS this aggregate,
    # so one scan of the sitemap rows and one join suffice
    page_dates = sitemap_rows.filter(F.col("kind") == "url").groupBy("loc").agg(
        F.max("lastmod_date").alias("lastmod_date")
    )
    j = page_dates.join(latest, "loc", "left")
    return (
        j.withColumn(
            "reason",
            F.when(F.col("last_ts").isNull(), F.lit("never_crawled")).when(
                F.col("lastmod_date") > F.to_date("last_ts"),
                F.lit("modified"),
            ),
        )
        .filter(F.col("reason").isNotNull())
        .select(F.col("loc").alias(url_col), "reason")
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "url",
    content_col: str = "text",
) -> DataFrame:
    """Recrawl audit: (id, status, old_hash, new_hash) with status ∈
    {'added', 'removed', 'changed', 'unchanged'} — what actually moved
    between two snapshots of an extracted table. The content compare is
    md5-keyed so the full-outer join carries 32-byte hashes, not page
    bodies; one shuffle on the id key, linear at any scale.

    NULL content gets the sentinel hash '<null>' (never equal to any
    32-hex md5) — a page whose text column went NULL between crawls
    reads as 'changed' even against the empty string, not as a crash or
    a silent 'unchanged'. Duplicate ids within a snapshot are collapsed
    to their min hash first (deterministic; dedup upstream for precise
    semantics — documented rather than guessed).
    """
    def side(df, tag):
        h = F.when(F.col(content_col).isNull(), F.lit("<null>")).otherwise(
            F.md5(F.col(content_col))
        )
        return df.groupBy(F.col(id_col).alias("id")).agg(
            F.min(h).alias(f"{tag}_hash")
        )

    j = side(old, "old").join(side(new, "new"), "id", "full_outer")
    status = (
        F.when(F.col("old_hash").isNull(), F.lit("added"))
        .when(F.col("new_hash").isNull(), F.lit("removed"))
        .when(F.col("old_hash") == F.col("new_hash"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return j.select(
        F.col("id").alias(id_col), status.alias("status"),
        "old_hash", "new_hash",
    )


def _rfc822_date(col: Column) -> Column:
    """RFC 822 date-time ('Mon, 15 Apr 2024 10:00:00 GMT', weekday
    optional) → DATE, NULL when unparseable. Month-name mapping is an
    explicit CASE so the same expression replays in DuckDB (no
    locale-dependent strptime); the final parse goes through try_to_date
    on a rebuilt ISO string — ANSI mode must not throw on junk."""
    day = F.regexp_extract(col, r"(\d{1,2}) [A-Z][a-z]{2} \d{4}", 1)
    mon = F.regexp_extract(col, r"\d{1,2} ([A-Z][a-z]{2}) \d{4}", 1)
    year = F.regexp_extract(col, r"\d{1,2} [A-Z][a-z]{2} (\d{4})", 1)
    mnum = F.array_position(
        F.split(
            F.lit("Jan,Feb,Mar,Apr,May,Jun,Jul,Aug,Sep,Oct,Nov,Dec"), ","
        ),
        mon,
    )
    iso = F.concat(
        year, F.lit("-"), F.lpad(mnum.cast("string"), 2, "0"), F.lit("-"),
        F.lpad(day, 2, "0"),
    )
    return F.when(
        (day != "") & (mnum > 0),
        F.try_to_timestamp(iso, F.lit("yyyy-MM-dd")).cast("date"),
    )


def parse_feed(
    df: DataFrame,
    host_col: str = "host",
    xml_col: str = "feed_xml",
) -> DataFrame:
    """RSS 2.0 / Atom feed XML → one row per entry: (host, format,
    title, link, entry_id, published, published_date) — the third
    frontier discovery input beside robots sitemaps and page links
    (feeds surface NEW urls faster than sitemap recrawl; the scheduler
    unions all three).

    Same engineering as ``parse_sitemap``: pure ``regexp_extract_all`` +
    explode column expressions, no XML library, no UDF, linear in feed
    bytes, every regex in the Spark∩RE2 common dialect so the DuckDB
    oracle replays rows exactly. Per-format semantics:

    * RSS ``<item>`` blocks: ``<title>``/``<link>``/``<guid>``/
      ``<pubDate>`` (RFC 822 date → ``_rfc822_date``).
    * Atom ``<entry>`` blocks: ``<title>``/``<link ... href=".."/>``
      (the href attribute, space-anchored exactly like
      functions/links.py so ``data-href`` can never match)/``<id>``/
      ``<updated>`` (ISO 8601; date = first 10 chars via try_to_date).

    Entry-less rows vanish; an entry without a link DROPS (an entry we
    cannot fetch is nothing — drop-not-fake); missing title/id/published
    are NULL. ``<![CDATA[..]]>`` title wrappers strip via prefix/suffix
    replaces (no backreferences — DuckDB spells them differently).
    ``&amp;``/``&apos;`` decode in link, &amp; last."""
    xml = F.coalesce(F.col(xml_col), F.lit(""))
    out = []
    for fmt, tag in (("rss", "item"), ("atom", "entry")):
        b = df.select(
            F.col(host_col).alias("host"),
            F.lit(fmt).alias("format"),
            F.explode(
                F.regexp_extract_all(
                    xml, F.lit(f"(?s)<{tag}>(.*?)</{tag}>"), 1
                )
            ).alias("block"),
        )
        title = F.regexp_extract(
            "block", r"(?s)<title>\s*(.*?)\s*</title>", 1
        )
        title = F.regexp_replace(
            F.regexp_replace(title, r"^<!\[CDATA\[", ""), r"\]\]>$", ""
        )
        if fmt == "rss":
            link = F.regexp_extract(
                "block", r"(?s)<link>\s*(.*?)\s*</link>", 1
            )
            eid = F.regexp_extract(
                "block", r"(?s)<guid[^>]*>\s*(.*?)\s*</guid>", 1
            )
            pub = F.regexp_extract(
                "block", r"(?s)<pubDate>\s*(.*?)\s*</pubDate>", 1
            )
        else:
            # rel="alternate" (the article link) WINS over self/edit/API
            # links whatever their order in the entry; only entries with
            # no alternate fall back to the first href at all
            alt_a = F.regexp_extract(
                "block",
                r'<link ([^>]* )?rel="alternate"[^>]* href="([^">]*)"', 2,
            )
            alt_b = F.regexp_extract(
                "block",
                r'<link ([^>]* )?href="([^">]*)"[^>]* rel="alternate"', 2,
            )
            any_href = F.regexp_extract(
                "block", r'<link ([^>]* )?href="([^">]*)"', 2
            )
            link = F.when(alt_a != "", alt_a).when(
                alt_b != "", alt_b
            ).otherwise(any_href)
            eid = F.regexp_extract("block", r"(?s)<id>\s*(.*?)\s*</id>", 1)
            pub = F.regexp_extract(
                "block", r"(?s)<updated>\s*(.*?)\s*</updated>", 1
            )
        from ..functions.links import decode_entities

        link = decode_entities(link)
        r = (
            b.select(
                "host",
                "format",
                F.when(title != "", title).alias("title"),
                link.alias("link"),
                F.when(eid != "", eid).alias("entry_id"),
                F.when(pub != "", pub).alias("published"),
            )
            .filter(F.col("link") != "")
        )
        if fmt == "rss":
            r = r.withColumn("published_date", _rfc822_date(F.col("published")))
        else:
            r = r.withColumn(
                "published_date",
                F.expr(
                    "try_to_date(substring(published, 1, 10), 'yyyy-MM-dd')"
                ),
            )
        out.append(
            r.select(
                "host", "format", "title", "link", "entry_id",
                "published", "published_date",
            )
        )
    return out[0].unionByName(out[1])


def blocklist_filter(
    docs: DataFrame,
    blocklist: DataFrame,
    url_col: str = "url",
) -> DataFrame:
    """UT1-style URL blocklist matching (the RefinedWeb/C4 curation
    front door — Penedo et al. 2023 filter on the Université
    Toulouse 1 category lists): annotate every document with the
    blocklist category that claims it, NULL when clean. ``blocklist``
    has (pattern, kind, category) with three kinds:

    * ``host``   — exact lowercased host match;
    * ``domain`` — the host OR any parent domain matches (``a.b.c``
      tests ``a.b.c``, ``b.c``, ``c``) — the UT1 "domains" file
      semantics;
    * ``url_prefix`` — full-url prefix; the pattern's own host routes
      the join so prefix testing happens only among that host's pages.

    Scale shape: the host is extracted in the scan projection; each kind
    is an EQUI-join on host/suffix (the domain kind explodes a host into
    its ≤label-count suffixes — bounded fan-out, no LIKE cross join), and
    blocklists are ~100k rows → Spark broadcasts every probe side. Match
    priority host > domain > url_prefix with lexicographic category
    tie-break inside a kind, so the verdict is deterministic regardless
    of list order or partitioning.

    Returns docs + (block_category string, block_kind string); filter
    ``block_category IS NULL`` for the clean set. Urls with no parseable
    host can only match url_prefix patterns whose own host is empty —
    i.e. effectively never; they pass (drop-not-fake: absence of
    evidence)."""
    d = docs.withColumn("__host", host_of(F.col(url_col), strip_port=True))
    bl = blocklist.select(
        F.lower(F.col("pattern")).alias("pattern"),
        F.col("kind").alias("kind"),
        F.col("category").alias("category"),
    )
    # host kind: exact equi-join
    m_host = d.select("__host", F.col(url_col).alias("__u")).join(
        bl.filter(F.col("kind") == "host").select(
            F.col("pattern").alias("__host"), "category"
        ),
        "__host",
    ).select("__u", "category", F.lit(1).alias("prio"))
    # domain kind: explode host suffixes (a.b.c → a.b.c, b.c, c)
    labels = F.split(F.col("__host"), r"\.")
    suffixes = F.transform(
        F.sequence(F.lit(1), F.size(labels)),
        lambda i: F.array_join(F.slice(labels, i, F.size(labels)), "."),
    )
    m_dom = (
        d.select(
            F.col(url_col).alias("__u"),
            F.explode(suffixes).alias("suffix"),
        )
        .join(
            bl.filter(F.col("kind") == "domain").select(
                F.col("pattern").alias("suffix"), "category"
            ),
            "suffix",
        )
        .select("__u", "category", F.lit(2).alias("prio"))
    )
    # url_prefix kind: route by the pattern's host, then prefix-test
    pat_host = host_of(F.col("pattern"), strip_port=True)
    m_pre = (
        d.select("__host", F.col(url_col).alias("__u"))
        .join(
            bl.filter(F.col("kind") == "url_prefix").select(
                pat_host.alias("__host"), "pattern", "category"
            ),
            "__host",
        )
        .filter(F.lower(F.col("__u")).startswith(F.col("pattern")))
        .select("__u", "category", F.lit(3).alias("prio"))
    )
    verdict = (
        m_host.unionByName(m_dom).unionByName(m_pre)
        .groupBy("__u")
        .agg(
            F.min(F.struct("prio", "category")).alias("m"),
        )
        .select(
            F.col("__u").alias(url_col),
            F.col("m.category").alias("block_category"),
            F.element_at(
                F.split(F.lit("host,domain,url_prefix"), ","), F.col("m.prio")
            ).alias("block_kind"),
        )
    )
    return d.drop("__host").join(verdict, url_col, "left")


def badword_score(
    docs: DataFrame,
    lexicon: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Weighted bad-word density (the C4 list step recast as a score,
    not a binary drop): lowercase whitespace tokens join a (word,
    weight) lexicon; per document emit (n_tokens, n_bad, bad_weight,
    bad_frac = n_bad/n_tokens). Thresholding is the caller's policy —
    scores survive to the output so an audit can re-cut without a
    re-scan. Lexicons are small → broadcast join; counts are exact
    bigints and the division is one IEEE op, so the DuckDB twin matches
    bit-for-bit. Wordless documents report n_tokens=0 with NULL
    bad_frac (no evidence, not 'clean with score 0')."""
    toks = docs.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.split(F.lower(F.coalesce(F.col(text_col), F.lit(""))), " ")
        ).alias("w"),
    ).filter(F.col("w") != "")
    # concatenated public lists repeat words — dedup to max weight, or
    # the join would duplicate token rows and corrupt even n_tokens
    lex = lexicon.select(
        F.lower(F.col("word")).alias("w"),
        F.col("weight").cast("long").alias("weight"),
    ).groupBy("w").agg(F.max("weight").alias("weight"))
    j = toks.join(F.broadcast(lex), "w", "left")
    return (
        j.groupBy("id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.count("weight").cast("long").alias("n_bad"),
            F.coalesce(F.sum("weight"), F.lit(0)).cast("long").alias(
                "bad_weight"
            ),
        )
        .select(
            F.col("id").alias(id_col),
            "n_tokens",
            "n_bad",
            "bad_weight",
            (F.col("n_bad") / F.col("n_tokens")).alias("bad_frac"),
        )
    )


# path segments / query values recognized as language markers for bitext
# pairing — a fixed public list (ParaCrawl's URL-matching heuristic uses
# the same idea); extending it is config, not code.
BITEXT_LANG_SEG = "/(en|fr|de|es|zh|ja|pt|it|ru|ar|hi|ko|nl|pl|tr)/"


def bitext_url_key(url: Column) -> Column:
    """Language-agnostic URL key: a path segment that IS a language code
    collapses to ``/_L_/``, a ``lang=`` query value to ``_L_`` — urls
    that differ only by language collide. Non-overlapping left-to-right
    replacement in both engines, so '/en/fr/' collapses its FIRST
    marker only (documented; real sites do not nest language dirs)."""
    k = F.regexp_replace(url, BITEXT_LANG_SEG, "/_L_/")
    return F.regexp_replace(k, r"([?&]lang=)[a-zA-Z-]+", "$1_L_")


def bitext_url_pairs(
    docs: DataFrame,
    url_col: str = "url",
    lang_col: str = "lang",
    text_col: str = "text",
    max_group: int = 16,
) -> DataFrame:
    """Bitext candidate mining the ParaCrawl way: pages of the SAME site
    whose urls differ only by a language marker are translation
    candidates. Returns (bitext_key, url_a, lang_a, url_b, lang_b,
    len_ratio) with lang_a < lang_b and len_ratio =
    least(len_a,len_b)/greatest(...) — the classic comparable-length
    prefilter signal (threshold is the caller's policy).

    Scale shape: the key is a scan-projection expression; urls with no
    language marker (key == url) drop BEFORE the shuffle — the join only
    sees multilingual candidates; groups larger than ``max_group``
    pages drop entirely (the LSH star-cap discipline: a key shared by
    hundreds of pages is a template artifact, and capping bounds the
    per-key pair fan-out at C(max_group, 2)). One keyed shuffle + one
    self-join co-located on it."""
    key = bitext_url_key(F.col(url_col))
    d = docs.select(
        key.alias("bitext_key"),
        F.col(url_col).alias("u"),
        F.col(lang_col).alias("l"),
        F.length(F.coalesce(F.col(text_col), F.lit(""))).cast("long").alias(
            "n"
        ),
    ).filter(F.col("bitext_key") != F.col("u"))
    ok = d.groupBy("bitext_key").agg(F.count("*").alias("gc")).filter(
        F.col("gc") <= max_group
    )
    d = d.join(ok.select("bitext_key"), "bitext_key")
    a = d.select(
        "bitext_key", F.col("u").alias("url_a"), F.col("l").alias("lang_a"),
        F.col("n").alias("n_a"),
    )
    b = d.select(
        "bitext_key", F.col("u").alias("url_b"), F.col("l").alias("lang_b"),
        F.col("n").alias("n_b"),
    )
    return (
        a.join(b, "bitext_key")
        .filter(F.col("lang_a") < F.col("lang_b"))
        .select(
            "bitext_key", "url_a", "lang_a", "url_b", "lang_b",
            (
                F.least("n_a", "n_b")
                / F.greatest(F.greatest("n_a", "n_b"), F.lit(1))
            ).alias("len_ratio"),
        )
    )


def sentence_freq_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_doc_freq: int = 2,
) -> DataFrame:
    """``line_freq_dedup`` at SENTENCE granularity: boilerplate that
    lives inside flowing paragraphs ('Click here to subscribe. ') never
    hits a newline boundary, so line-level dedup misses it — segment
    with ``split_sentences`` (functions/textstats.py), drop sentences
    occurring in more than ``max_doc_freq`` distinct documents,
    reassemble the survivors in reading order joined by single spaces →
    (id, text, n_sents_in, n_sents_kept).

    Same scale shape as the line variant: explode → one md5 groupBy for
    document frequencies → violators-only broadcast join back → ordered
    reassembly; a doc whose every sentence is boilerplate survives with
    text='' (drop-not-lose). NOTE the reassembly normalizes
    inter-sentence whitespace to one space (sentence segmentation
    already trims) — byte-preserving callers should use span cuts
    (``cut_spans``) instead; this operator is the statistics-grade
    fast path."""
    from ..functions.textstats import split_sentences

    sents = split_sentences(df, id_col, text_col).select(
        F.col(id_col).alias("id"),
        F.col("sent_idx").alias("pos"),
        F.col("sentence").alias("s"),
    ).withColumn("h", F.md5(F.col("s")))
    freq = sents.groupBy("h").agg(F.count_distinct("id").alias("df"))
    boiler = F.broadcast(freq.filter(F.col("df") > max_doc_freq))
    kept = sents.join(boiler, "h", "left").withColumn(
        "keep", F.col("df").isNull()
    )
    out = (
        kept.groupBy("id")
        .agg(
            F.count("*").cast("long").alias("n_sents_in"),
            F.count(F.when(F.col("keep"), 1)).cast("long").alias(
                "n_sents_kept"
            ),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("keep"),
                                F.struct(F.col("pos"), F.col("s")),
                            )
                        )
                    ),
                    lambda x: x["s"],
                ),
                " ",
            ).alias("text"),
        )
        .select(
            F.col("id").alias(id_col), "text", "n_sents_in", "n_sents_kept"
        )
    )
    # sentence-less documents (empty text) never exploded — restore them
    # with empty output so the corpus row count is preserved
    missing = df.select(F.col(id_col)).join(
        out.select(id_col), id_col, "left_anti"
    ).select(
        id_col,
        F.lit("").alias("text"),
        F.lit(0).cast("long").alias("n_sents_in"),
        F.lit(0).cast("long").alias("n_sents_kept"),
    )
    return out.unionByName(missing)


def percent_normalize(url: Column) -> Column:
    """RFC 3986 §2.3/§6.2.2 percent-encoding normalization — the URL
    equivalence class ``normalize_url`` deliberately left out: decode
    ``%XX`` when XX encodes an UNRESERVED character (ALPHA / DIGIT /
    '-' '.' '_' '~'), uppercase the hex digits of every other escape
    ('%3a' ≡ '%3A'), and leave malformed '%' sequences byte-for-byte
    (drop-not-fake: a broken escape is content, not encoding). Two urls
    that differ only by these rules identify the same resource, so
    exact-dedup keys should pass through this BEFORE hashing.

    Pure column exprs: split on '%', one ``transform`` over the tail
    parts (hex parse via conv, char() for the decode), re-join — no
    UDF, no recursion, replayable in DuckDB with list_transform +
    chr()."""
    parts = F.split(url, "%", -1)
    n = F.size(parts)

    def fix(p: Column) -> Column:
        hx = F.upper(F.substring(p, 1, 2))
        valid = p.rlike("^[0-9a-fA-F]{2}")
        code = F.conv(hx, 16, 10).cast("int")
        unreserved = (
            code.between(48, 57)
            | code.between(65, 90)
            | code.between(97, 122)
            | code.isin(45, 46, 95, 126)
        )
        return (
            F.when(
                valid & unreserved,
                F.concat(F.char(code), F.substring(p, 3, 1 << 20)),
            )
            .when(
                valid,
                F.concat(F.lit("%"), hx, F.substring(p, 3, 1 << 20)),
            )
            .otherwise(F.concat(F.lit("%"), p))
        )

    tail = F.transform(F.slice(parts, 2, F.greatest(n - 1, F.lit(0))), fix)
    return F.concat(
        F.element_at(parts, 1), F.array_join(tail, "")
    )


# C4 (Raffel et al. 2020, JMLR 21(140) §2.2 — public paper) line and page
# rules. Engine-added for web-text tier extraction: the reference pipeline
# has no corpus cleaning stage at all (it consumes already-curated manga
# pages), so this battery is the web-scale analog of its per-image
# validity gates (utils/io_utils.py's skip-on-bad-image discipline).
C4_POLICY_PHRASES: tuple[str, ...] = (
    "terms of use",
    "privacy policy",
    "cookie policy",
    "uses cookies",
    "use of cookies",
    "use cookies",
)


def c4_line_filter(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words_per_line: int = 3,
    min_sentences: int = 5,
) -> DataFrame:
    """The C4 cleaning battery as ONE whole-stage-codegen projection:
    per-LINE rules (keep only lines that end in a terminal punctuation
    mark, have >= ``min_words_per_line`` whitespace words, and do not
    contain 'javascript' or a policy boilerplate phrase), then per-PAGE
    rules on what survives (drop pages containing '{', 'lorem ipsum',
    or fewer than ``min_sentences`` sentences after line filtering).

    Returns every input row — (id, text [cleaned], n_lines_in,
    n_lines_kept, n_sentences, doc_pass, drop_reason) — rather than
    filtering, so audits can measure what each rule removes before a
    downstream ``.filter('doc_pass')`` commits to the drop; at 100 TB
    the rule-attribution histogram is the tuning signal and recomputing
    it would mean a second full scan.

    Scale shape: zero shuffles, zero joins, zero Python — every rule is
    a higher-order array expression over the row's own line split, so
    the stage pipelines with whatever scan/exchange surrounds it and
    the cost is one pass over the bytes per row. Sentence counting
    reuses readability_scores' rule (split on [.!?]+ runs, count
    non-blank segments) so the two stages agree on what a sentence is.
    """
    # CRLF → LF up front: Java regex '$' would otherwise match before a
    # trailing '\r' while RE2's (the oracle's) would not.
    t = F.replace(
        F.coalesce(F.col(text_col), F.lit("")), F.lit("\r"), F.lit("")
    )
    lines = F.split(t, "\n")

    def _keep(ln: Column) -> Column:
        tr = F.trim(ln)
        lo = F.lower(ln)
        n_words = F.size(
            F.filter(F.split(tr, "\\s+"), lambda w: w != "")
        )
        bad_phrase = F.lit(False)
        for p in ("javascript",) + C4_POLICY_PHRASES:
            bad_phrase = bad_phrase | lo.contains(p)
        return (
            tr.rlike('[.!?"]$')
            & (n_words >= min_words_per_line)
            & ~bad_phrase
        )

    kept = F.filter(lines, _keep)
    clean = F.array_join(kept, "\n")
    n_sent = F.size(
        F.filter(
            F.split(clean, "[.!?]+"), lambda s: F.trim(s) != ""
        )
    )
    has_brace = t.contains("{")
    has_lorem = F.lower(t).contains("lorem ipsum")
    reason = (
        F.when(has_brace, F.lit("brace"))
        .when(has_lorem, F.lit("lorem_ipsum"))
        .when(n_sent < min_sentences, F.lit("too_few_sentences"))
    )
    return df.select(
        F.col(id_col),
        clean.alias("text"),
        F.size(lines).cast("bigint").alias("n_lines_in"),
        F.size(kept).cast("bigint").alias("n_lines_kept"),
        n_sent.cast("bigint").alias("n_sentences"),
        reason.isNull().alias("doc_pass"),
        reason.alias("drop_reason"),
    )


def c4_line_filter_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words_per_line: int = 3,
    min_sentences: int = 5,
) -> str:
    """DuckDB twin of ``c4_line_filter`` — replays every rule with
    list_filter/regexp over the same line split."""
    phrases = ("javascript",) + C4_POLICY_PHRASES
    bad = " OR ".join(
        f"contains(lower(ln), '{p}')" for p in phrases
    )
    keep = (
        "ln -> regexp_matches(trim(ln), '[.!?\"]$')"
        " AND len(list_filter(regexp_split_to_array(trim(ln), '\\s+'),"
        f" w -> w <> '')) >= {min_words_per_line}"
        f" AND NOT ({bad})"
    )
    return (
        f"WITH b AS (SELECT {id_col},"
        f" replace(coalesce({text_col}, ''), chr(13), '') AS t"
        f" FROM {table}),"
        " l AS (SELECT *, str_split(t, chr(10)) AS lines FROM b),"
        f" k AS (SELECT *, list_filter(lines, {keep}) AS kept FROM l),"
        " c AS (SELECT *, array_to_string(kept, chr(10)) AS clean,"
        " len(list_filter(regexp_split_to_array("
        " array_to_string(kept, chr(10)), '[.!?]+'),"
        " s -> trim(s) <> ''))::BIGINT AS n_sent FROM k),"
        " r AS (SELECT *, CASE WHEN contains(t, '{') THEN 'brace'"
        " WHEN contains(lower(t), 'lorem ipsum') THEN 'lorem_ipsum'"
        f" WHEN n_sent < {min_sentences} THEN 'too_few_sentences'"
        " END AS drop_reason FROM c) "
        f"SELECT {id_col}, clean AS text,"
        " len(lines)::BIGINT AS n_lines_in,"
        " len(kept)::BIGINT AS n_lines_kept,"
        " n_sent AS n_sentences,"
        " drop_reason IS NULL AS doc_pass, drop_reason FROM r"
    )


def train_order_shards(
    df: DataFrame,
    id_col: str = "doc_id",
    n_shards: int = 8,
    salt: str = "shuffle",
) -> DataFrame:
    """Deterministic global training-order shuffle + contiguous
    sharding: (id, sort_key, shard, pos) where ``sort_key`` is the hex
    md5 of ``salt:id``, ``shard`` is the hash-RANGE bucket
    floor(n_shards·u) with u the same md5-derived uniform as
    ``hash_uniform``, and ``pos`` numbers rows within the shard in
    sort_key order. Reading shards 0..n−1 each in pos order replays ONE
    global permutation that is a pure function of (id, salt) — the
    property a resumable pretraining loader needs: re-running the job,
    adding executors, or repartitioning the input cannot reorder the
    epoch (df.sample/orderBy(rand()) guarantee neither), and epoch e is
    just salt='epoch-e'.

    Scale shape: shard = a hash RANGE, so shards are contiguous in key
    space and the physical writer is repartitionByRange(shard) +
    sortWithinPartitions(sort_key) — one exchange, no global sort; the
    per-shard pos window parallelizes across shards (n_shards partitions
    at 100 TB each well under executor memory by construction: shard
    count is chosen as corpus_bytes / target_shard_bytes)."""
    key = F.md5(F.concat_ws(":", F.lit(salt), F.col(id_col).cast("string")))
    u = hash_uniform(F.col(id_col), salt=salt)
    shard = F.floor(u * n_shards).cast("int")
    w = Window.partitionBy("shard").orderBy("sort_key", id_col)
    return (
        df.select(
            F.col(id_col),
            key.alias("sort_key"),
            shard.alias("shard"),
        )
        .withColumn("pos", F.row_number().over(w).cast("long"))
    )


def train_order_shards_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    n_shards: int = 8,
    salt: str = "shuffle",
) -> str:
    """DuckDB twin of ``train_order_shards`` — the same md5 sort key,
    hash-range shard and per-shard position."""
    key = f"md5('{salt}:' || CAST({id_col} AS VARCHAR))"
    u = (
        f"('0x' || substr(md5('{salt}:' || CAST({id_col} AS VARCHAR)), 1, 8))"
        "::BIGINT / 4294967296.0"
    )
    return (
        f"WITH b AS (SELECT {id_col}, {key} AS sort_key,"
        f" CAST(floor({u} * {n_shards}) AS INT) AS shard FROM {table}) "
        f"SELECT {id_col}, sort_key, shard,"
        " row_number() OVER (PARTITION BY shard"
        f" ORDER BY sort_key, {id_col})::BIGINT AS pos FROM b"
    )


def split_by_host(
    df: DataFrame,
    splits: list[tuple[str, float]] | None = None,
    url_col: str = "url",
    salt: str = "split",
) -> DataFrame:
    """Leakage-safe train/val/test assignment: the split is a pure
    function of the page's REGISTERED HOST, so every page of a site —
    and therefore the boilerplate-sharing near-duplicates within it —
    lands in ONE split. Splitting by document hash (the naive recipe)
    leaks template text across train/val and inflates eval; host-keyed
    splitting is the standard web-corpus guard (same motivation as the
    reference keeping each manga page's crops in one fold,
    /root/reference/train_db.py:33-38 — grouped, not i.i.d., splits).

    ``splits`` is an ordered list of (name, weight); weights must be
    positive and sum to ≤ 1 (a sum < 1 leaves a NULL-split holdout —
    explicit, never silently rescaled). Assignment: ``u =
    hash_uniform(host, salt)`` and the first split whose cumulative
    bound exceeds ``u`` wins — md5-portable, so re-runs, repartitioning,
    and independent engines agree row for row. Hostless rows (relative /
    malformed / NULL urls) get a NULL split: guessing a bucket would
    scatter them by accident of string content (drop-not-fake).

    Scale: embarrassingly parallel — one pure-column projection, zero
    shuffles, no driver state. Emits the input columns plus (host,
    split)."""
    if splits is None:
        splits = [("train", 0.98), ("val", 0.01), ("test", 0.01)]
    if not splits:
        raise ValueError("splits must be non-empty")
    total = 0.0
    for name, w in splits:
        if not name or w <= 0:
            raise ValueError(f"split ({name!r}, {w}) must have a name"
                             " and a positive weight")
        total += w
    if total > 1.0 + 1e-9:
        raise ValueError(f"split weights sum to {total} > 1")
    host = host_of(F.col(url_col), strip_port=True)
    u = hash_uniform(host, salt)
    expr = None
    bound = 0.0
    for name, w in splits:
        bound += w
        cond = u < F.lit(bound)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    split = F.when(host != "", expr)
    return df.select(*df.columns, host.alias("host"), split.alias("split"))


def mixture_allocate(
    df: DataFrame,
    weights_ppm: dict[str, int],
    budget: int,
    by: str = "lang",
    size_col: str | None = None,
) -> DataFrame:
    """Training-mixture PLANNING: apportion a token/document ``budget``
    across the corpus groups of column ``by`` according to target
    ``weights_ppm`` (parts-per-million, must sum to exactly 1_000_000),
    by largest-remainder (Hamilton) apportionment — the standard way a
    pretraining run turns "30% code, 60% web, 10% books" into exact
    per-source token counts that sum to the budget. Integer end to end:
    quota = budget·ppm, base = quota // 10^6, and the ``budget −
    Σbase`` leftover units go to the largest fractional remainders
    (ties → group name ascending), so the plan is bit-identical in any
    engine — no float shares that "almost" sum to the budget.

    Availability is the group's row count (or ``sum(size_col)`` when
    given, e.g. token counts from ``token_count_*``). The granted
    amount clamps to availability and the clamped deficit is reported
    as ``shortfall`` — NOT silently redistributed: an under-supplied
    source is a decision for the mixture owner (re-weight, upsample,
    or accept), not for the planner (drop-not-fake, planner edition).
    Groups named in the weights but absent from the corpus report
    ``available = 0``; corpus groups without a weight are excluded (an
    explicit mixture enumerates its sources).

    Emits one row per weighted group: (``by``, available, weight_ppm,
    alloc, granted, shortfall) with ``Σalloc = budget`` always.

    Scale: one map-side-combinable groupBy over the corpus; everything
    after runs on #groups rows (a mixture has tens of sources, not
    millions), so the single-partition ranking window is trivially
    driver-safe."""
    if not weights_ppm:
        raise ValueError("weights_ppm must be non-empty")
    if any(v < 0 for v in weights_ppm.values()):
        raise ValueError("weights must be >= 0")
    s = sum(weights_ppm.values())
    if s != 1_000_000:
        raise ValueError(f"weights_ppm must sum to 1000000, got {s}")
    if budget < 0 or budget * 1_000_000 >= (1 << 63):
        raise ValueError(f"budget {budget} out of the exact-bigint range")
    size = F.count("*") if size_col is None else F.sum(size_col)
    counts = df.groupBy(F.col(by).alias("__g")).agg(
        size.cast("long").alias("available")
    )
    spark = df.sparkSession
    wdf = spark.createDataFrame(
        sorted(weights_ppm.items()), f"__g string, weight_ppm long"
    )
    g = wdf.join(counts, "__g", "left").select(
        F.col("__g").alias(by),
        F.coalesce(F.col("available"), F.lit(0)).alias("available"),
        "weight_ppm",
    )
    b = int(budget)
    # `div`, not `/`: float division is only exact below 2^53 and a
    # 10^12-token budget × ppm is 10^18 — the planner must stay integer
    quota = F.lit(b) * F.col("weight_ppm")
    g = g.withColumn(
        "__base", F.expr(f"weight_ppm * CAST({b} AS BIGINT) div 1000000")
    ).withColumn("__rem", quota % F.lit(1_000_000))
    w_all = Window.partitionBy(F.lit(1))
    w_rank = w_all.orderBy(F.col("__rem").desc(), F.col(by).asc())
    leftover = F.lit(int(budget)) - F.sum("__base").over(w_all)
    g = g.withColumn(
        "alloc",
        F.col("__base")
        + F.when(F.row_number().over(w_rank) <= leftover, 1).otherwise(0),
    )
    granted = F.least(F.col("alloc"), F.col("available"))
    return g.select(
        by, "available", "weight_ppm",
        F.col("alloc").cast("long").alias("alloc"),
        granted.cast("long").alias("granted"),
        (F.col("alloc") - granted).cast("long").alias("shortfall"),
    )


def align_bitext_sentences(
    df: DataFrame,
    key_col: str = "bitext_key",
    a_col: str = "sents_a",
    b_col: str = "sents_b",
) -> DataFrame:
    """Sentence-level bitext alignment for the candidate pairs
    ``bitext_url_pairs`` mines: PROPORTIONAL-ANCHOR alignment — sentence
    ``a_i`` pairs with the ``b_j`` whose character interval contains
    ``a_i``'s midpoint after scaling the two documents onto a common
    length axis. This is the integer-deterministic recast of
    Gale–Church: keep the monotone path through the cumulative-length
    lattice (lengths are ~translation-invariant), drop the probabilistic
    DP cost — the shape hunalign-style pipelines use as their coarse
    anchor pass before any lexical rescoring.

    Exact integer test (no divisions, so bit-identical in any engine):
    with prefix sums ``cumA/cumB`` and totals ``totA/totB``, a_i maps to
    the unique j with

        2·totA·cumB[j-1] ≤ (cumA[i-1]+cumA[i])·totB < 2·totA·cumB[j]

    Monotone by construction (midpoints increase), one b per a; a 1-many
    or many-1 sentence split shows up as consecutive a's sharing a j —
    exactly the signal a downstream merger consumes. Documents with a
    zero-length side drop whole (nothing to scale against); zero-length
    b-sentences have empty intervals and are never matched; a trailing
    zero-length a-sentence's midpoint sits ON the right edge and drops
    (drop-not-fake, all three documented edges).

    Emits (key, a_idx, b_idx, len_a, len_b, len_milli_ratio) where the
    ratio is ``min·1000 div max`` of the paired lengths — the classic
    per-pair quality prefilter, micro-quantized so it stays exact.

    Scale shape: posexplode each side, one window per side keyed on the
    pair (prefix sums), then an equi-join on the pair key with the
    interval test as the join filter — co-located keyed exchanges only,
    per-key fan-out bounded by sentences-per-document, no all-pairs
    anywhere."""
    key = F.col(key_col)
    a = df.select(key.alias("k"), F.posexplode(a_col).alias("a_idx", "sa"))
    b = df.select(key.alias("k"), F.posexplode(b_col).alias("b_idx", "sb"))
    wa = Window.partitionBy("k").orderBy("a_idx")
    wb = Window.partitionBy("k").orderBy("b_idx")
    a = a.select(
        "k", "a_idx",
        F.length("sa").cast("long").alias("len_a"),
        F.sum(F.length("sa")).over(wa).cast("long").alias("cum_a"),
        F.sum(F.length("sa"))
        .over(Window.partitionBy("k"))
        .cast("long")
        .alias("tot_a"),
    ).filter(F.col("tot_a") > 0)
    b = b.select(
        "k", "b_idx",
        F.length("sb").cast("long").alias("len_b"),
        F.sum(F.length("sb")).over(wb).cast("long").alias("cum_b"),
        F.sum(F.length("sb"))
        .over(Window.partitionBy("k"))
        .cast("long")
        .alias("tot_b"),
    ).filter(F.col("tot_b") > 0)
    mid2 = (2 * F.col("cum_a") - F.col("len_a")) * F.col("tot_b")
    lo = 2 * F.col("tot_a") * (F.col("cum_b") - F.col("len_b"))
    hi = 2 * F.col("tot_a") * F.col("cum_b")
    ratio = F.expr(
        "least(len_a, len_b) * 1000 div greatest(len_a, len_b)"
    )
    return (
        a.join(b, "k")
        .filter((lo <= mid2) & (mid2 < hi))
        .select(
            F.col("k").alias(key_col),
            "a_idx", "b_idx", "len_a", "len_b",
            ratio.cast("long").alias("len_milli_ratio"),
        )
    )


def host_quality_shrunk(
    df: DataFrame,
    host_col: str = "host",
    score_col: str = "score",
    prior_strength: int = 20,
) -> DataFrame:
    """Domain-level quality with EMPIRICAL-BAYES shrinkage: a host's mean
    document score pulled toward the corpus mean with the weight of
    ``prior_strength`` pseudo-documents —

        shrunk = (Σscore_h + m·ḡ) / (n_h + m)

    — so a 3-page host with three lucky scores cannot outrank a
    500-page host of consistently good pages. This is how per-domain
    allow/deny decisions are actually made over crawl data (RefinedWeb/
    CCNet-style curation): raw per-host means are dominated by small-n
    noise exactly where the decisions matter.

    Integer end to end: the corpus mean is milli-quantized ONCE
    (``g_milli = 1000·Σ div N`` — exact bigints), then each host's
    ``shrunk_milli = (1000·Σ_h + m·g_milli) div (n_h + m)``. No float
    enters, so any engine replays it bit-for-bit, and per-host products
    stay ≤ 10^3·Σ_h — no 10^21 blowup from the naive cross-multiplied
    form at corpus scale.

    Scale: one map-side-combinable groupBy(host) + one broadcast of the
    single global row; scores are expected integer-valued (milli-scores
    from ``quality_logit``/``lm_score`` floors — cast upstream).

    Emits (host, n_docs, mean_milli, shrunk_milli), raw mean beside the
    shrunk one so the shrinkage applied is auditable."""
    if prior_strength < 0:
        raise ValueError(f"prior_strength must be >= 0, got {prior_strength}")
    m = int(prior_strength)
    per = df.groupBy(F.col(host_col).alias("host")).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.col(score_col).cast("long")).alias("__s"),
    )
    glob = df.agg(
        F.count("*").cast("long").alias("__gn"),
        F.sum(F.col(score_col).cast("long")).alias("__gs"),
    ).select(F.expr("1000 * __gs div __gn").alias("__g_milli"))
    return (
        per.crossJoin(F.broadcast(glob))
        .select(
            "host",
            "n_docs",
            F.expr("1000 * __s div n_docs").alias("mean_milli"),
            F.expr(
                f"(1000 * __s + {m} * __g_milli) div (n_docs + {m})"
            ).alias("shrunk_milli"),
        )
    )


def score_shards(
    df: DataFrame,
    score_col: str,
    n_shards: int,
    ascending: bool = True,
) -> DataFrame:
    """Exact score-grain ntile WITHOUT a corpus sort: append ``shard``
    (0..n_shards-1) such that shards are contiguous in score order and
    sizes are as equal as score-tie granularity allows.

    The curriculum-ordering primitive (easy→hard training schedules,
    quality-stratified eval slices): ``ccnet_tiers`` gets adaptive cut
    points from a per-language WINDOW — a full per-language sort. This
    operator exploits the engine's integer-quantized score discipline
    instead: scores have bounded cardinality (milli/micro lattices), so

    1. one ``groupBy(score).count()`` histogram (map-side partials),
    2. one window over the DISTINCT SCORES ONLY — thousands of rows,
       bounded by the lattice, NOT by corpus size — computing each
       score's cumulative predecessor count,
    3. ``shard = (cum_before · n) div total`` (exact bigint floor),
    4. one broadcast join back.

    Zero corpus exchanges beyond the histogram's partial aggregate; at
    10^12 docs the sort that never happens is the whole win. Every row
    of a tied score lands in ONE shard (shard sizes deviate by at most
    the largest tie group — the honest cost of not splitting ties
    arbitrarily); the result is a pure function of the score column, so
    it is repartition-invariant and engine-portable. Compose with
    ``train_order_shards`` for a deterministic shuffle WITHIN each
    curriculum shard."""
    from pyspark.sql.functions import broadcast

    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    s = F.col(score_col)
    # NULL scores are DROPPED (documented, not silent): an unscored row
    # has no place in a score curriculum, and a NULL group entering the
    # histogram would inflate every real score's cumulative offset
    # while the equi-join back dropped the rows anyway.
    df = df.filter(s.isNotNull())
    hist = df.groupBy(s.alias("__sc")).agg(F.count("*").alias("__n"))
    order = F.col("__sc").asc() if ascending else F.col("__sc").desc()
    w = Window.orderBy(order)
    wall = Window.orderBy(order).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum_before = (F.sum("__n").over(w) - F.col("__n")).alias("__cum")
    total = F.sum("__n").over(wall).alias("__tot")
    mapping = hist.select("__sc", cum_before, total).select(
        "__sc",
        F.expr(f"(__cum * {int(n_shards)}L) div __tot")
        .cast("int")
        .alias("shard"),
    )
    return df.join(broadcast(mapping), s == F.col("__sc")).drop("__sc")


def host_boilerplate_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    host_col: str = "host",
    sep: str = "\n",
    max_doc_freq: int = 2,
) -> DataFrame:
    """HOST-SCOPED boilerplate line removal — the per-site sibling of
    ``line_freq_dedup``: a nav bar repeated on every page of ONE site
    is boilerplate even when its corpus-wide document frequency stays
    tiny (a 30-page blog's menu never crosses a corpus threshold that
    catches 'subscribe now'). Frequencies are counted per (host, line)
    and a line is dropped only where IT is boilerplate — the same
    sentence surviving on another host is untouched (trafilatura's
    site-level dedup behavior).

    Output (id, host, text, n_lines_in, n_lines_kept); empties survive
    with text='' and whitespace-only lines are exempt, both exactly as
    in the corpus-wide operator.

    Scale shape: the frequency aggregate and the join-back both key on
    (host, line-hash) — co-partitioned, one exchange each; unlike the
    corpus-wide variant the violator build side grows with the number
    of HOSTS (every site has nav lines), so it is a shuffled equi-join,
    never a broadcast — the (host, h) key is Zipf-flat (hot boilerplate
    is hot only within its host) and AQE splits any residual skew."""
    import re

    lines = df.select(
        F.col(id_col).alias("id"),
        F.col(host_col).alias("host"),
        F.posexplode_outer(
            F.split(F.coalesce(F.col(text_col), F.lit("")), re.escape(sep))
        ).alias("pos", "line"),
    ).withColumn("h", F.md5(F.col("line")))
    freq = lines.groupBy("host", "h").agg(
        F.count_distinct("id").alias("df")
    )
    boiler = freq.filter(F.col("df") > max_doc_freq)
    kept = lines.join(boiler, ["host", "h"], "left").withColumn(
        "keep",
        F.col("df").isNull() | (F.trim(F.col("line")) == ""),
    )
    return (
        kept.groupBy("id", "host")
        .agg(
            F.count(F.when(F.col("line").isNotNull(), 1)).alias(
                "n_lines_in"
            ),
            F.count(
                F.when(F.col("keep") & F.col("line").isNotNull(), 1)
            ).alias("n_lines_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("keep"),
                                F.struct(F.col("pos"), F.col("line")),
                            )
                        )
                    ),
                    lambda s: s["line"],
                ),
                sep,
            ).alias("text"),
        )
        .select(
            F.col("id").alias(id_col),
            F.col("host").alias(host_col),
            "text",
            F.col("n_lines_in").cast("bigint").alias("n_lines_in"),
            F.col("n_lines_kept").cast("bigint").alias("n_lines_kept"),
        )
    )
