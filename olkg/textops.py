"""Training-data text operators over a documents table.

These are the operations a large-scale corpus pipeline needs beyond the KG
mapping itself: deduplication (exact, MinHash-LSH, SimHash, n-gram Jaccard),
language id, quality scoring, token counting, fingerprinting.  Every operator
is built from native Catalyst expressions (JVM-side, whole-stage codegen); no
Python UDF runs in this module.  Every operator reads a ``doc_id`` and a
``text`` column.

Scale notes:
- exact dedup: one hash-partitioned aggregate on a fixed-width digest, never
  on the raw text (shuffle carries 32 bytes/row, not documents);
- n-gram Jaccard: inverted-index self-join on shingle hashes with a
  document-frequency cap (`max_df`) so stop-shingles don't produce quadratic
  candidate blowup — the standard guard at web scale;
- MinHash-LSH: band buckets shuffle like any groupBy; bucket sizes are
  bounded by band width, not corpus size;
- SimHash: a 60-bit signature from an md5 token hash that SQL engines share,
  blocked into radius-complete chunks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

def exact_dup_groups(documents: DataFrame) -> DataFrame:
    """Exact duplicate groups by md5(text): (text_hash, dup_count, keeper_id).
    Only groups with >1 member are duplicates; keeper = min doc_id
    (deterministic survivor)."""
    return (documents
            .groupBy(F.md5("text").alias("text_hash"))
            .agg(F.count(F.lit(1)).alias("dup_count"),
                 F.min("doc_id").alias("keeper_id"))
            .filter(F.col("dup_count") > 1))


# ---------------------------------------------------------------------------
# Word n-gram shingles + exact Jaccard (the verifiable near-dup baseline)
# ---------------------------------------------------------------------------

def _shingles(documents: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, shingle): distinct word n-grams via native array ops —
    split → transform over a sequence of start offsets → explode."""
    toks = documents.select("doc_id", F.split("text", " ").alias("t"))
    n_sh = F.greatest(F.size("t") - F.lit(n - 1), F.lit(0))
    grams = F.transform(
        F.sequence(F.lit(0), n_sh - 1),
        lambda i: F.concat_ws(" ", *[F.element_at(F.col("t"), (i + j + 1).cast("int"))
                                     for j in range(n)]),
    )
    return (toks.filter(n_sh > 0)
            .select("doc_id", F.explode(grams).alias("shingle"))
            .distinct())


def _shingle_hashes(documents: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, h): word-n-gram occurrences hashed to 64 bits AT THE SOURCE
    (h = xxhash64(shingle)), NOT deduplicated — callers dedup at their
    aggregate (min/collect_set are multiplicity-insensitive) or with an
    explicit ``.distinct()``.

    Why hashes instead of the shingle strings (guide §2.3 "shuffle fewer
    bytes" / "narrower types"): every downstream exchange — dedup, inverted
    index join, document-frequency count, per-doc set aggregation — carries
    a fixed 8-byte key instead of a ~20-40 byte string, and join/group
    comparisons become single long compares.  Two distinct shingles collide
    in the same doc-pair's union with probability ~|union|²/2⁶⁴ (~1e-14 for
    ~600-shingle unions), orders of magnitude below the engine's documented
    LSH miss tolerance (minhash_near_dup_pairs: ≤1.6e-5), so results are
    identical to the string-keyed formulation with overwhelming probability
    — asserted against the string-exact oracle at every tested scale."""
    toks = documents.select("doc_id", F.split("text", " ").alias("t"))
    n_sh = F.greatest(F.size("t") - F.lit(n - 1), F.lit(0))
    grams = F.transform(
        F.sequence(F.lit(0), n_sh - 1),
        lambda i: F.xxhash64(
            F.concat_ws(" ", *[F.element_at(F.col("t"), (i + j + 1).cast("int"))
                               for j in range(n)])),
    )
    return (toks.filter(n_sh > 0)
            .select("doc_id", F.explode(grams).alias("h")))


def _ids_packable(documents: DataFrame) -> bool:
    """True when every doc_id fits in a non-negative 31-bit int, so an
    (a, b) pair packs losslessly into one 64-bit key (a<<32 | b).  One
    narrow min/max aggregate over the pruned doc_id column (milliseconds at
    bench scale; parquet min/max statistics keep it cheap on big tables) —
    paid once per query to let the heaviest shuffle/aggregate in the
    near-dup joins run on ONE long instead of two (guide §2.3 narrower
    types; ~25% on the pair aggregate, measured).  Packing is a bijection
    in range, so results are EXACTLY unchanged; out-of-range corpora simply
    keep the two-column key."""
    row = documents.agg(F.min("doc_id").alias("lo"),
                        F.max("doc_id").alias("hi")).first()
    return (row["lo"] is not None and row["lo"] >= 0
            and row["hi"] < (1 << 31))


def _pack_pair(a_col: str, b_col: str):
    return F.shiftleft(F.col(a_col).cast("long"), 32) + F.col(b_col)


def _unpack_pair(pk_col: str):
    return (F.shiftright(F.col(pk_col), 32).alias("doc_a"),
            F.col(pk_col).bitwiseAND(F.lit((1 << 32) - 1)).alias("doc_b"))


def ngram_jaccard_pairs(documents: DataFrame, n: int = 3,
                        threshold: float = 0.5,
                        max_df: int = 10_000,
                        dropped_stats: dict | None = None) -> DataFrame:
    """(doc_a, doc_b, inter_size, jaccard) for all pairs with word-n-gram
    Jaccard ≥ threshold.  Inverted-index equi-join on the 64-bit shingle
    hash (see :func:`_shingle_hashes`), so only docs sharing a shingle are
    ever paired; `max_df` drops shingles that occur in more than max_df
    documents (stop-shingle guard).

    The threshold compares the UNROUNDED ratio (rounding is display-only in
    the returned column), so boundary pairs agree with any exact re-check.

    No-silent-caps: pass ``dropped_stats`` (a dict) to census what the
    max_df guard discarded — filled eagerly (one small aggregation job) with
    ``dropped_shingles`` / ``dropped_postings`` so a production run can log
    them to its metrics table before committing to the capped pair set."""
    # One hash-keyed posting list, built with ONE exchange (guide §2.3/§2.4):
    # occurrences repartition by the shingle hash, then BOTH the per-(h,doc)
    # dedup and the document-frequency cap run as window passes over that
    # single partitioning (hash(h) satisfies the (h, doc_id) clustering, and
    # the df window's sort-by-h is a prefix of the dedup window's sort), so
    # neither adds an exchange — the string-keyed formulation paid a distinct
    # exchange + a df-count exchange + a join, all carrying ~20-40-byte
    # shingle strings, and recomputed the explode subtree per consumer.
    occ = _shingle_hashes(documents, n).repartition("h")
    w_dedup = Window.partitionBy("h", "doc_id").orderBy("doc_id")
    sh = (occ.withColumn("_rn", F.row_number().over(w_dedup))
          .filter(F.col("_rn") == 1).drop("_rn"))
    counted = sh.withColumn(
        "_df", F.count(F.lit(1)).over(Window.partitionBy("h")))
    if dropped_stats is not None:
        row = (counted.filter(F.col("_df") > max_df)
               .agg(F.count_distinct("h").alias("dropped_shingles"),
                    F.count(F.lit(1)).alias("dropped_postings")).first())
        dropped_stats["dropped_shingles"] = row["dropped_shingles"]
        dropped_stats["dropped_postings"] = row["dropped_postings"]
    sh = counted.filter(F.col("_df") <= max_df).select("doc_id", "h")
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "h")
    b = sh.select(F.col("doc_id").alias("doc_b"), "h")
    joined = a.join(b, "h").filter(F.col("doc_a") < F.col("doc_b"))
    if _ids_packable(documents):
        # the pair aggregate is this query's dominant cost (sum of df² rows
        # over the inverted index); group on the packed single-long key
        inter = (joined
                 .groupBy(_pack_pair("doc_a", "doc_b").alias("_pk"))
                 .agg(F.count(F.lit(1)).alias("inter_size"))
                 .select(*_unpack_pair("_pk"), "inter_size"))
    else:
        inter = (joined.groupBy("doc_a", "doc_b")
                 .agg(F.count(F.lit(1)).alias("inter_size")))
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    jacc = F.col("inter_size") / (F.col("sz_a") + F.col("sz_b")
                                  - F.col("inter_size"))
    return (inter.join(sa, "doc_a").join(sb, "doc_b")
            .filter(jacc >= threshold)
            .select("doc_a", "doc_b", "inter_size",
                    F.round(jacc, 4).alias("jaccard")))


# ---------------------------------------------------------------------------
# MinHash + LSH near-dup candidates
# ---------------------------------------------------------------------------

def minhash_lsh_candidates(documents: DataFrame, n: int = 3,
                           num_perm: int = 16, bands: int = 4) -> DataFrame:
    """(doc_a, doc_b) candidate near-dup pairs: shingle → per-permutation min
    of xxhash64(perm, shingle) → band buckets → within-bucket pairing.
    Entirely native expressions: the permutation fan-out is a posexplode over
    a literal seq, min-aggregated per (doc, perm); deterministic."""
    rows_per_band = num_perm // bands
    # shingle hashes straight off the explode (no string shuffle, no
    # pre-distinct: min() is duplicate-insensitive, so the optimizer-level
    # dedup the string path relied on is simply unnecessary here);
    # permutation p = remix xxhash64(h, p) as an aggregate column — one
    # map-side-partial shuffle of 16 longs per (doc, map partition), no
    # num_perm-fold row explosion
    hashed = _shingle_hashes(documents, n)
    mins = hashed.groupBy("doc_id").agg(
        *[F.min(F.xxhash64(F.col("h"), F.lit(p))).alias(f"m{p}")
          for p in range(num_perm)])
    # band key as ONE long (band id salts the hash) instead of a "b:hash"
    # string — 8-byte join keys; a cross-band bucket collision only ADDs a
    # candidate pair, which exact verification then filters
    buckets = F.array(*[
        F.xxhash64(F.lit(b), *[F.col(f"m{b * rows_per_band + r}")
                               for r in range(rows_per_band)])
        for b in range(bands)])
    banded = mins.select("doc_id", F.explode(buckets).alias("bucket"))
    l = banded.select(F.col("doc_id").alias("doc_a"), "bucket")
    r = banded.select(F.col("doc_id").alias("doc_b"), "bucket")
    raw = (l.join(r, "bucket")
           .filter(F.col("doc_a") < F.col("doc_b")))
    if _ids_packable(documents):
        # candidate dedup on the packed single-long pair key (bijective in
        # range → identical candidate set, ~25% cheaper aggregate)
        return (raw.select(_pack_pair("doc_a", "doc_b").alias("_pk"))
                .distinct().select(*_unpack_pair("_pk")))
    return raw.select("doc_a", "doc_b").distinct()


def minhash_near_dup_pairs(documents: DataFrame, n: int = 3,
                           num_perm: int = 16, bands: int = 16,
                           threshold: float = 0.5) -> DataFrame:
    """The full MinHash-LSH dedup pipeline: LSH candidate generation, then
    EXACT Jaccard verification on candidates only — (doc_a, doc_b, jaccard).

    Verification joins candidates against per-doc distinct-shingle arrays and
    computes |A∩B| / |A∪B| natively, so its cost is proportional to the
    candidate count, not the corpus pair count.  With the default
    bands=num_perm (one row per band), a pair with true Jaccard j is missed
    with probability (1-j)^bands — ≤ 1.6e-5 at j=threshold=0.5 — so the
    output is, up to that probability, exactly the set of pairs with Jaccard
    ≥ threshold (which is what the SQL oracle computes pair-exhaustively).
    The threshold compares the unrounded ratio; rounding is display-only."""
    cand = minhash_lsh_candidates(documents, n=n, num_perm=num_perm,
                                  bands=bands)
    # per-doc distinct-shingle sets as 8-byte hash arrays (collect_set
    # dedups, so no separate distinct pass); |A∩B|/|A∪B| over the hash sets
    # equals the string-set Jaccard up to ~1e-14 collision probability (see
    # _shingle_hashes) — the string formulation shuffled AND (on a bad
    # post-aggregate estimate) BROADCAST the full collect_set(string)
    # relation twice, ~100 MB a side at bench sf1.0.  Attach topology
    # (A/B-measured, OPTIMIZATION_r07.md): broadcast the candidate PAIRS
    # (two longs/row) and stream the first set relation past them, then a
    # SHUFFLED HASH join for the second attach — the set relation is never
    # driver-collected on a wrong estimate, and the sort a merge join would
    # impose on the array-carrying stream is avoided.
    sets = (_shingle_hashes(documents, n)
            .groupBy("doc_id")
            .agg(F.collect_set("h").alias("sh")))
    a = sets.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sets.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    jacc = inter / union
    return (a.join(F.broadcast(cand), "doc_a")
            .join(b.hint("shuffle_hash"), "doc_b")
            .filter(jacc >= threshold)
            .select("doc_a", "doc_b", F.round(jacc, 4).alias("jaccard")))


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 60


def simhash_bits(documents: DataFrame) -> DataFrame:
    """(doc_id, simhash) SimHash over word tokens: per-bit majority of token
    hashes, all in native expressions (token → hash → bit tests → sums →
    sign).

    The token hash is the low 60 bits of md5, an expression every SQL
    engine shares (``('0x'||substr(md5(tok),1,15))::UBIGINT`` in DuckDB),
    so the signatures are independently verifiable; the signature is
    :data:`SIMHASH_BITS` wide.
    """
    h = F.conv(F.substring(F.md5(F.col("tok")), 1, 15), 16, 10).cast("long")
    toks = (documents
            .select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
            .filter(F.col("tok") != "")
            .withColumn("h", h))
    one = F.lit(1).cast("long")
    # branchless per-bit tally: sum((h>>b)&1) per bit plus one token count —
    # the majority sign is 2·ones_b > n ⟺ the old sum(±1) > 0 (exact
    # integer identity), without a conditional per (token, bit) in the
    # aggregate's inner loop (60 × |tokens| evaluations)
    bit_cols = [
        F.sum(F.shiftright("h", b).bitwiseAND(one)).alias(f"b{b}")
        for b in range(SIMHASH_BITS)
    ]
    agg = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("_n"), *bit_cols)
    sim = F.lit(0).cast("long")
    for b in range(SIMHASH_BITS):
        sim = sim + F.when(F.col(f"b{b}") * 2 > F.col("_n"),
                           F.shiftleft(one, b)) \
                     .otherwise(F.lit(0).cast("long"))
    return agg.select("doc_id", sim.alias("simhash"))


def simhash_near_pairs(documents: DataFrame,
                       max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by SimHash with RADIUS-COMPLETE chunk blocking:
    the signature is split into ``max_hamming + 1`` bit chunks, so any pair
    within hamming ≤ max_hamming has all its differing bits in at most
    max_hamming chunks and therefore shares at least one exact chunk
    (pigeonhole) — no pair inside the radius is ever missed, at any radius.
    Hamming distance is verified exactly within blocks."""
    sig = simhash_bits(documents)
    n_chunks = max_hamming + 1
    if n_chunks > SIMHASH_BITS:
        raise ValueError(f"max_hamming={max_hamming} needs {n_chunks} chunks "
                         f"but the signature has only {SIMHASH_BITS} bits")
    chunk_keys = []
    for c in range(n_chunks):
        # even partition of [0, SIMHASH_BITS) into n_chunks non-empty ranges
        start = c * SIMHASH_BITS // n_chunks
        end = (c + 1) * SIMHASH_BITS // n_chunks
        w = end - start
        mask = (1 << w) - 1
        chunk_keys.append(
            F.concat(F.lit(f"{c}:"),
                     F.shiftright("simhash", start).bitwiseAND(F.lit(mask))
                     .cast("string")))
    chunks = sig.select("doc_id", "simhash",
                        F.explode(F.array(*chunk_keys)).alias("chunk"))
    l = chunks.select(F.col("doc_id").alias("doc_a"),
                      F.col("simhash").alias("sh_a"), "chunk")
    r = chunks.select(F.col("doc_id").alias("doc_b"),
                      F.col("simhash").alias("sh_b"), "chunk")
    # verify BEFORE deduplicating: the hamming test is a per-row bit_count
    # (cheap, codegen) while the dedup is a wide hash aggregate — filtering
    # first shrinks the distinct from every block-quadratic candidate row
    # (~27M at bench sf1.0) to the true near-pair set (~30k).  A pair
    # sharing several chunks is tested once per shared chunk, but each test
    # is the identical arithmetic → identical row, collapsed by distinct;
    # filter-then-distinct ≡ distinct-then-filter for a deterministic
    # row-local predicate.
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (l.join(r, "chunk").filter(F.col("doc_a") < F.col("doc_b"))
            .withColumn("hamming", ham)
            .filter(F.col("hamming") <= max_hamming)
            .select("doc_a", "doc_b", "hamming").distinct())


# ---------------------------------------------------------------------------
# Language id / quality / tokens / fingerprint
# ---------------------------------------------------------------------------

_LANG_MARKERS = {
    "en": r"\b(the|and|of|with)\b",
    "es": r"\b(el|la|los|las|con)\b",
    "de": r"\b(der|die|das|und|mit)\b",
    "fr": r"\b(le|les|des|avec|est)\b",
}


def lang_id(documents: DataFrame) -> DataFrame:
    """Deterministic marker-word language id: counts of per-language marker
    regexes; predict the max-count language, ties broken by language code
    order, all-zero → 'und'."""
    scored = documents.select(
        "doc_id",
        *[F.regexp_count(F.col("text"), F.lit(pat)).alias(f"n_{code}")
          for code, pat in _LANG_MARKERS.items()])
    best = F.greatest(*[F.col(f"n_{c}") for c in _LANG_MARKERS])
    pred = F.lit("und")
    for code in reversed(list(_LANG_MARKERS)):  # earlier codes win ties
        pred = F.when((F.col(f"n_{code}") == best) & (best > 0),
                      F.lit(code)).otherwise(pred)
    return scored.withColumn("lang_pred", pred) \
                 .select("doc_id", *[f"n_{c}" for c in _LANG_MARKERS],
                         "lang_pred")


def quality_scores(documents: DataFrame) -> DataFrame:
    """Length/punctuation/stopword-ratio quality features + a keep flag."""
    n_chars = F.length("text")
    n_tokens = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    n_punct = F.regexp_count(F.col("text"), F.lit(r"[^\w\s]"))
    n_stop = F.regexp_count(F.col("text"),
                            F.lit(r"\b(the|a|an|and|or|of|to|in|is)\b"))
    return documents.select(
        "doc_id",
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        F.round(n_punct / F.greatest(n_chars, F.lit(1)), 4).alias("punct_ratio"),
        F.round(n_stop / F.greatest(n_tokens, F.lit(1)), 4).alias("stop_ratio"),
        ((n_tokens >= 10) & (n_chars >= 50)).alias("keep"),
    )


def token_counts(documents: DataFrame) -> DataFrame:
    """Whitespace token count + BPE-ish subword-regex token count
    (letter runs / digit runs / single punctuation, the GPT-2-style split)."""
    ws = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    bpe = F.regexp_count(F.col("text"), F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"))
    return documents.select("doc_id", ws.alias("ws_tokens"),
                            bpe.alias("bpe_tokens"))


def doc_fingerprints(documents: DataFrame) -> DataFrame:
    """Stable content fingerprint: md5 of casefolded, whitespace-collapsed
    text (the cheap exact-canonical fingerprint; MinHash above is the fuzzy
    one)."""
    norm = F.lower(F.regexp_replace(F.col("text"), r"\s+", " "))
    return documents.select("doc_id", F.md5(norm).alias("fingerprint"))


# ---------------------------------------------------------------------------
# Gap-based sessionization (batch twin of streaming.stream_sessionize)
# ---------------------------------------------------------------------------

def sessionize_events(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Batch gap-based sessionization: a new session starts where the gap to
    the previous event of the same user exceeds ``gap_minutes``.  Classic
    lag + cumulative-sum session ids — two window passes over the same
    (user_id, ts) partitioning, so Catalyst reuses one sort+shuffle."""
    w = Window.partitionBy("user_id").orderBy("ts", "value")
    gap_s = gap_minutes * 60
    prev = F.lag("ts").over(w)
    new_sess = F.when(
        prev.isNull() |
        (F.unix_timestamp("ts") - F.unix_timestamp(prev) > gap_s), 1
    ).otherwise(0)
    with_id = events.withColumn("_sid", F.sum(new_sess).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    return (with_id.groupBy("user_id", "_sid")
            .agg(F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss")
                 .alias("session_start"),
                 F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss")
                 .alias("session_end"),
                 F.count(F.lit(1)).alias("n_events"),
                 F.sum(F.col("value").cast("decimal(18,4)")).cast("double")
                 .alias("sum_value"))
            .select("user_id", "session_start", "session_end", "n_events",
                    "sum_value"))
