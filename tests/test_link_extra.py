"""S2 LCSH loader and N-Triples formatting details."""

from pyspark.sql import functions as F


def test_lcsh_loader(spark, tmp_path):
    """lib/util.rb:25-34 semantics: label-predicate filter, URI subjects,
    /authorities/sj exclusion, last-writer-wins."""
    from olkg.link import load_lcsh_ntriples
    nt = "\n".join([
        '<http://id.loc.gov/authorities/subjects/sh1> '
        '<http://www.w3.org/2004/02/skos/core#prefLabel> "History" .',
        '<http://id.loc.gov/authorities/subjects/sh2> '
        '<http://www.w3.org/2004/02/skos/core#altLabel> "Histories" .',
        # same label again, later wins
        '<http://id.loc.gov/authorities/subjects/sh3> '
        '<http://www.w3.org/2004/02/skos/core#prefLabel> "History" .',
        # authoritativeLabel predicate accepted
        '<http://id.loc.gov/authorities/names/n1> '
        '<http://www.loc.gov/mads/rdf/v1#authoritativeLabel> "Canada" .',
        # children's subjects excluded by object match
        '<http://id.loc.gov/authorities/subjects/sh4> '
        '<http://www.w3.org/2004/02/skos/core#prefLabel> '
        '"x/authorities/sj-like" .',
        # non-label predicate ignored
        '<http://id.loc.gov/authorities/subjects/sh5> '
        '<http://www.w3.org/2004/02/skos/core#broader> "Nope" .',
    ])
    p = tmp_path / "lcsh.nt"
    p.write_text(nt)
    dim = {r.label: r.uri for r in load_lcsh_ntriples(spark, str(p)).collect()}
    assert dim["History"] == "http://id.loc.gov/authorities/subjects/sh3"
    assert dim["Histories"] == "http://id.loc.gov/authorities/subjects/sh2"
    assert dim["Canada"] == "http://id.loc.gov/authorities/names/n1"
    assert "x/authorities/sj-like" not in dim
    assert "Nope" not in dim


def test_ntriples_escaping(spark):
    from olkg.materialize import ntriples_lines
    from olkg.schema import TRIPLES_SCHEMA
    edges = spark.createDataFrame([
        ("http://e/s", "http://e/p", 'he said "hi"\nback\\slash', "literal", None),
        ("_:b1", "http://e/p", "http://e/o", "uri", None),
        ("http://e/s", "http://e/p", "2009-10-15T15:17:23+00:00", "literal",
         "http://www.w3.org/2001/XMLSchema#dateTime"),
        ("http://e/s", "http://e/p", "_:b2", "bnode", None),
    ], TRIPLES_SCHEMA)
    lines = {r.value for r in ntriples_lines(edges).collect()}
    assert ('<http://e/s> <http://e/p> "he said \\"hi\\"\\nback\\\\slash" .'
            in lines)
    assert "_:b1 <http://e/p> <http://e/o> ." in lines
    assert ('<http://e/s> <http://e/p> "2009-10-15T15:17:23+00:00"'
            '^^<http://www.w3.org/2001/XMLSchema#dateTime> .' in lines)
    assert "<http://e/s> <http://e/p> _:b2 ." in lines


def test_nt_unescape_pure():
    from olkg.util import nt_unescape
    assert nt_unescape('Qu\\u00E9bec (Province)') == "Québec (Province)"
    assert nt_unescape(r'a\"b') == 'a"b'
    assert nt_unescape(r'tab\there') == "tab\there"
    assert nt_unescape(r'nl\nhere') == "nl\nhere"
    assert nt_unescape(r'back\\slash') == "back\\slash"
    assert nt_unescape(r'astral \U0001F600 ok') == "astral \U0001F600 ok"
    assert nt_unescape("plain") == "plain"
    # malformed escapes pass through, never raise
    assert nt_unescape("bad\\") == "bad\\"
    assert nt_unescape(r'bad\uZZZZ tail') == r'bad\uZZZZ tail'


def test_lcsh_loader_unescapes_labels(spark, tmp_path):
    """Escaped labels in the N-Triples dump must match extract-time probe
    labels byte-for-byte (lib/util.rb:25-34 reads via RDF.rb, which fully
    unescapes)."""
    from olkg.link import load_lcsh_ntriples
    nt = "\n".join([
        '<http://id.loc.gov/authorities/names/n42> '
        '<http://www.w3.org/2004/02/skos/core#prefLabel> '
        '"Qu\\u00E9bec (Province)" .',
        '<http://id.loc.gov/authorities/subjects/sh9> '
        '<http://www.w3.org/2004/02/skos/core#prefLabel> '
        r'"Say \"cheese\"" .',
        '<http://id.loc.gov/authorities/subjects/sh10> '
        '<http://www.w3.org/2004/02/skos/core#altLabel> '
        r'"Back\\slash & tab\t" .',
    ])
    p = tmp_path / "lcsh_esc.nt"
    p.write_text(nt)
    dim = {r.label: r.uri for r in load_lcsh_ntriples(spark, str(p)).collect()}
    assert dim["Québec (Province)"] == "http://id.loc.gov/authorities/names/n42"
    assert dim['Say "cheese"'] == "http://id.loc.gov/authorities/subjects/sh9"
    assert dim["Back\\slash & tab\t"] == \
        "http://id.loc.gov/authorities/subjects/sh10"


def test_cc_super_block_guard(spark, tmp_path, cc_sides, monkeypatch):
    """CC drops blocks with df > MAX_BLOCK_DF (hub keys carry no
    discriminating evidence and chain unrelated entities), censuses what it
    dropped, and keeps normal blocks intact -- with an identical census and
    map on both sides of the driver finish cap."""
    import olkg.canonicalize as C
    rows = ([("e%d" % i, "hub") for i in range(50)]        # super-block
            + [("a1", "k1"), ("a2", "k1"),                 # normal block
               ("b1", "k2"), ("b2", "k2"), ("b3", "k2")])
    pairs = spark.createDataFrame(rows, ["entity", "block_key"])
    census = ("dropped_super_blocks", "dropped_pair_rows")
    for side in cc_sides():
        monkeypatch.setattr(C, "MAX_BLOCK_DF", 10)
        stats = {}
        cmap = {(r.entity, r.canonical_id)
                for r in C.canonical_map_from_blocks(
                    pairs, str(tmp_path), stats).collect()}
        assert stats["finish"] == side
        # hub entities resolved nowhere (identity); normal blocks resolved
        assert cmap == {("a1", "a1"), ("a2", "a1"),
                        ("b1", "b1"), ("b2", "b1"), ("b3", "b1")}
        assert {k: stats[k] for k in census} == {
            "dropped_super_blocks": 1, "dropped_pair_rows": 50}
        # a cap above the hub → the hub merges everything it touches
        monkeypatch.setattr(C, "MAX_BLOCK_DF", 100)
        stats = {}
        all_cc = {(r.entity, r.canonical_id)
                  for r in C.canonical_map_from_blocks(
                      pairs, str(tmp_path), stats).collect()}
        assert ("e49", "e0") in all_cc
        assert {k: stats[k] for k in census} == {
            "dropped_super_blocks": 0, "dropped_pair_rows": 0}


def test_fake_names_do_not_chain_minhash_blocks():
    """The cluster-corpus fake names must not band-collide into giant
    components (the hex-alphabet version chained 4,885 of 16k names in a
    union-find simulation; letters a-z keep components bounded)."""
    from olkg.pagesgen import _fake_name
    names = [_fake_name(f"Author {i % 6}", i) for i in range(4000)]
    assert len(set(names)) == len(names)          # all distinct
    assert all(n.replace(" ", "").isalpha() for n in names)


def test_cc_long_chain_converges_within_max_iter(spark, tmp_path, cc_sides):
    """A chain component longer than CC_MAX_ROUNDS hops must still fully
    converge: plain hash-min propagates one hop per iteration and would
    silently stop short at CC_MAX_ROUNDS; the pointer-jump step (iteration
    >= 3 in the loop, every round on the driver) compresses chains in
    O(log diameter)."""
    from olkg.canonicalize import CC_MAX_ROUNDS, canonical_map_from_blocks
    n = 60   # bipartite diameter ~120 >> CC_MAX_ROUNDS=20
    rows = []
    for i in range(n - 1):
        rows.append((f"e{i:03d}", f"k{i:03d}"))
        rows.append((f"e{i+1:03d}", f"k{i:03d}"))
    pairs = spark.createDataFrame(rows, ["entity", "block_key"])
    for side in cc_sides():
        stats = {}
        cmap = canonical_map_from_blocks(pairs, str(tmp_path),
                                         stats).collect()
        assert stats["finish"] == side
        labels = {r.canonical_id for r in cmap}
        assert labels == {"e000"}, \
            f"{side}: chain not fully merged: {sorted(labels)[:5]}"
        assert len({r.entity for r in cmap}) == n
        # a chain's changed census stays flat round over round — the loop's
        # jump gate must fire (without it the chain needs ~diameter/2 = 60
        # iterations)
        assert stats["jump_engaged_at"] is not None
        assert stats["iterations"] <= CC_MAX_ROUNDS == 20


def _chain_pairs(spark, n=60):
    rows = []
    for i in range(n - 1):
        rows.append((f"e{i:03d}", f"k{i:03d}"))
        rows.append((f"e{i+1:03d}", f"k{i:03d}"))
    return spark.createDataFrame(rows, ["entity", "block_key"])


def test_cc_releases_loop_state(spark, tmp_path, cc_sides):
    """Neither side leaves a persistent RDD behind, and nothing needs
    releasing: every CC step is a reliable checkpoint, which pins no
    executor blocks, and the loop returns its unwind as a lazy plan whose
    every leaf reads checkpoint files under ``checkpoint_dir`` (which the
    pipeline deletes once the map is written).  The driver side returns a
    local relation."""
    from olkg.canonicalize import canonical_map_from_blocks
    pairs = _chain_pairs(spark)
    jsc = spark.sparkContext._jsc
    for side in cc_sides():
        ckdir = tmp_path / side
        start = set(jsc.getPersistentRDDs().keys())
        stats = {}
        cmap = canonical_map_from_blocks(pairs, str(ckdir), stats)
        assert stats["finish"] == side
        assert cmap.count() == 60
        # ids, not a size: the cleaner may free older ones
        assert set(jsc.getPersistentRDDs().keys()) - start == set()
        if side == "driver":
            continue
        leaves = cmap._jdf.queryExecution().analyzed().collectLeaves()
        assert leaves.size() > 0
        for leaf in map(leaves.apply, range(leaves.size())):
            assert leaf.getClass().getSimpleName() == "LogicalRDD", leaf
            ck = leaf.rdd().getCheckpointFile()
            assert ck.isDefined(), leaf
            assert ck.get().startswith(f"file:{ckdir}/"), ck.get()


def test_cc_plan_size_constant_across_iterations(spark, tmp_path, cc_loop):
    """Every CC step plans from the previous step's checkpoint, so the
    analyzed plan of an iteration has the same node count whichever
    iteration it is, before and after the pointer jump engages (the jump
    reads the window step twice; without per-step truncation the plan
    doubled each jump iteration)."""
    from olkg.canonicalize import canonical_map_from_blocks
    stats = {}
    canonical_map_from_blocks(_chain_pairs(spark), str(tmp_path), stats)
    nodes = stats["plan_nodes"]["iterations"]
    j = stats["jump_engaged_at"]
    assert j is not None and len(nodes) - j >= 3, stats
    plain, jumped = nodes[:j], nodes[j:]
    assert len(set(plain)) == 1 and len(set(jumped)) == 1, nodes
    assert len(set(stats["plan_nodes"]["contractions"])) == 1, stats


def test_cc_nonconvergence_raises_loudly(spark, tmp_path, cc_sides,
                                         monkeypatch):
    """An exhausted round budget with rows still changing must RAISE,
    never return a partially-merged map (the engine's no-silent-caps rule):
    a long chain cannot converge in 2 loop iterations (the jump gate needs
    iteration >= 2 of history) nor in one driver round (a chain needs a
    second round to confirm its first), so either side must fail loudly
    and record converged=False in its stats."""
    import pytest
    import olkg.canonicalize as C
    pairs = _chain_pairs(spark)
    for side in cc_sides():
        monkeypatch.setattr(C, "CC_MAX_ROUNDS", {"loop": 2, "driver": 1}[side])
        stats = {}
        with pytest.raises(RuntimeError, match="did not converge in"):
            C.canonical_map_from_blocks(pairs, str(tmp_path), stats)
        assert stats["finish"] == side
        assert stats["converged"] is False
        assert stats["changed_hist"][-1] != 0


def test_cc_star_blocks_never_pay_the_jump(spark, tmp_path, cc_sides):
    """Star blocks (the identifier-block common case) collapse their
    changed census geometrically and converge by round 3 — the loop's
    progress gate must leave the pointer jump OFF so the common case pays
    no persist + self-join per iteration.  Both sides give the same map."""
    from olkg.canonicalize import canonical_map_from_blocks
    rows = []
    for b in range(40):                      # 40 disjoint stars of 6
        for m in range(6):
            rows.append((f"s{b:02d}_{m}", f"isbn:{b:02d}"))
    pairs = spark.createDataFrame(rows, ["entity", "block_key"])
    for side in cc_sides():
        stats = {}
        cmap = {(r.entity, r.canonical_id)
                for r in canonical_map_from_blocks(pairs, str(tmp_path),
                                                   stats).collect()}
        assert stats["finish"] == side
        assert len(cmap) == 240
        assert all(c == f"s{e[1:3]}_0" for e, c in cmap)
        assert stats["iterations"] <= 3, stats
        if side == "loop":
            assert stats["jump_engaged_at"] is None, stats


def _union_find_reference(rows):
    """Driver-side union-find over (entity, block_key) pairs restricted to
    blocks with df >= 2 — the oracle for canonical_map_from_blocks' output
    contract: (entity, min-URI-of-component) for every entity in a
    merge-capable block."""
    from collections import defaultdict
    by_block = defaultdict(list)
    for e, k in rows:
        if e not in by_block[k]:
            by_block[k].append(e)
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[rb] = ra

    members = set()
    for k, ents in by_block.items():
        if len(ents) < 2:
            continue
        members.update(ents)
        for e in ents[1:]:
            union(ents[0], e)
    comp = defaultdict(list)
    for e in members:
        comp[find(e)].append(e)
    out = set()
    for ents in comp.values():
        rep = min(ents)
        out.update((e, rep) for e in ents)
    return out


def test_cc_contraction_matches_union_find(spark, tmp_path, cc_sides):
    """Mixed stars + a chain long enough to need several iterations: the
    contraction path (engaged unconditionally after iteration 1) must
    census its shrinks (no silent row drops) and the unwound output must
    equal a driver-side union-find, including the min-URI representative;
    so must the driver finish's, which never contracts."""
    from olkg.canonicalize import canonical_map_from_blocks
    rows = []
    for b in range(25):                       # stars (identifier blocks)
        for m in range(5):
            rows.append((f"s{b:02d}_{m}", f"isbn:{b:02d}"))
    for i in range(23):                       # one 24-entity chain
        rows.append((f"c{i:02d}", f"band:{i:02d}"))
        rows.append((f"c{i+1:02d}", f"band:{i:02d}"))
    rows.append(("c00", "isbn:00"))           # chain touches star 0
    pairs = spark.createDataFrame(rows, ["entity", "block_key"])
    for side in cc_sides():
        stats = {}
        got = {(r.entity, r.canonical_id)
               for r in canonical_map_from_blocks(pairs, str(tmp_path),
                                                  stats).collect()}
        assert got == _union_find_reference(rows), side
        if side == "driver":
            assert stats["contractions"] == [] and \
                len(stats["iter_walls"]) == 1, stats
            continue
        assert stats["contractions"], stats       # fired at least once
        for c in stats["contractions"]:           # shrink census is coherent
            assert c["rows_after"] <= c["rows_before"]
        assert len(stats["iter_walls"]) == stats["iterations"]


def test_cc_seeded_random_graph_matches_union_find(spark, tmp_path,
                                                   cc_sides):
    """Deterministic pseudo-random bipartite graph (mix of singleton keys,
    stars, shared hubs): hash-encoded labels + contraction + jump, and the
    driver finish, must be invisible in the output vs driver-side
    union-find."""
    from olkg.canonicalize import canonical_map_from_blocks
    import random
    rng = random.Random(20260817)
    rows = []
    for i in range(400):
        e = f"http://x/e{i:04d}"
        for _ in range(rng.randint(1, 3)):
            rows.append((e, f"k{rng.randint(0, 250):03d}"))
    pairs = spark.createDataFrame(rows, ["entity", "block_key"])
    expect = _union_find_reference(rows)
    for side in cc_sides():
        stats = {}
        got = {(r.entity, r.canonical_id)
               for r in canonical_map_from_blocks(pairs, str(tmp_path),
                                                  stats).collect()}
        assert stats["finish"] == side
        assert got == expect, side


def test_cc_representative_is_code_point_min(spark, tmp_path, cc_sides):
    """Both sides pick the smallest URI by code point, the order of Spark's
    min on strings (UTF-8 bytes).  U+FFFF sorts before any astral-plane
    character by code point but after it in UTF-16, and "z" sorts before
    "é" by code point but not in a locale collation, so a driver finish
    that sorted by either would pick another representative here."""
    from olkg.canonicalize import canonical_map_from_blocks
    astral = ["e\U0001F600", "e\uffff", "e\U00010000"]
    accented = ["e\u00e9", "ez", "e\u00e9z"]
    rows = ([(e, "k:astral") for e in astral]
            + [(e, "k:accented") for e in accented])
    expect = {(e, min(astral)) for e in astral} | \
        {(e, min(accented)) for e in accented}
    assert min(astral) == "e\uffff" and min(accented) == "ez"
    pairs = spark.createDataFrame(rows, ["entity", "block_key"])
    for side in cc_sides():
        stats = {}
        got = {(r.entity, r.canonical_id)
               for r in canonical_map_from_blocks(pairs, str(tmp_path),
                                                  stats).collect()}
        assert stats["finish"] == side
        assert got == expect, side


def test_cc_dispatch_reads_the_build_size(spark, tmp_path, monkeypatch):
    """The cap is compared with the size of the build's collect, observed
    on the build: entity UTF-8 bytes plus 21 bytes a row, over the pairs of
    merge-capable blocks only (five here, whatever the singleton keys add to
    the input).  A session whose spark.driver.maxResultSize is below the
    constant lowers the cap to it."""
    import olkg.canonicalize as C
    rows = [("a1", "k1"), ("a2", "k1"), ("b1", "k2"), ("b2", "k2"),
            ("b3", "k2"), ("c1", "k3"), ("a1", "k4")]
    pairs = spark.createDataFrame(rows, ["entity", "block_key"])
    size = sum(len(e.encode()) + 21 for e in ("a1", "a2", "b1", "b2", "b3"))
    for cap, side in ((size, "driver"), (size - 1, "loop")):
        monkeypatch.setattr(C, "DRIVER_FINISH_BYTES", cap)
        stats = {}
        C.canonical_map_from_blocks(pairs, str(tmp_path), stats)
        assert stats["finish"] == side, cap
    monkeypatch.setattr(C, "DRIVER_FINISH_BYTES", 1 << 40)
    limit = spark.sparkContext.getConf().get("spark.driver.maxResultSize", "1g")
    assert limit == "1g" and C._driver_finish_cap(spark) == 1 << 30
