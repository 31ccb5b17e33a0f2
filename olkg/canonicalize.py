"""Canonicalize stage: dedup (A4) + identifier-blocked entity resolution.

The reference never deduplicates its output (the same ISBN arriving via both
``isbn_10`` and ``isbn_13`` emits duplicate statements) — the comparison set
is the *deduplicated* (s,p,o) set (SURVEY.md §2.7 A4), so dedup is the first
step here.

Entity canonicalization (north_star): editions/works that denote the same
entity are clustered by **blocking keys** —

- normalized ISBN-13 (``bibo:isbn13``), LCCN (``bibo:lccn``),
  OCLC (``bibo:oclcnum``): exact identifier blocks;
- author name MinHash band signatures: fuzzy name blocks
  (:func:`name_band_keys`, pure Python and bit-exact with Spark's
  ``xxhash64``, computed by the extract UDF in the pass that already holds
  each name and written to the side sink next to the identifier keys).

Within the bipartite (entity, block-key) graph, connected components are
computed as a size-dispatched plan (:func:`canonical_map_from_blocks`).  One
distributed build keeps the entity pairs of merge-capable blocks.  A graph
whose collect fits ``DRIVER_FINISH_BYTES`` is then collected once and
finished on the driver (numpy min-label propagation with pointer jumping);
a larger one runs hash-min label propagation on the executors --
alternating min-aggregations over the two sides until a fixpoint, two
shuffles on (key) / (entity) per iteration, no GraphFrames dependency.
Either way the canonical id of a cluster is its lexicographically smallest
member URI (deterministic across runs, cluster sizes and the dispatch).
"""

from __future__ import annotations

import functools
import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from . import vocab as V


_EDGE_COLS = ["subj", "pred", "obj", "obj_kind", "obj_datatype"]


# Measured on this host (BENCH/BASELINE.md): map-side partial aggregation
# beats prepartition below ~1-2M mostly-unique rows per map task and loses
# 3x above it.  plan_dedup flips at the midpoint and sizes reduce partitions
# to ~1M rows each.
AUTO_PREPARTITION_ROWS_PER_TASK = 1_500_000
AUTO_TARGET_ROWS_PER_PARTITION = 1_000_000


def plan_dedup(total_rows: int, rows_per_task: float) -> tuple[str, int | None]:
    """Pure sizing rule for :func:`dedup_edges`: returns (strategy,
    num_partitions).  Separated from the sampler so the decision
    boundary is unit-testable with arbitrary scales."""
    if rows_per_task > AUTO_PREPARTITION_ROWS_PER_TASK:
        n = max(1, round(total_rows / AUTO_TARGET_ROWS_PER_PARTITION))
        return "prepartition", n
    return "partial", None


def dedup_edges(triples: DataFrame,
                num_partitions: int | None = None) -> DataFrame:
    """A4: distinct (subj, pred, obj, obj_kind, obj_datatype).

    ``num_partitions`` is the partition count of :func:`plan_dedup`'s plan
    (the pipeline sizes it from olkg.pipeline.estimate_extract_size, the
    cheap sampler):

    - None ('partial'): plain dropDuplicates — hash aggregate with map-side
      partial dedup.  Right when per-map-task row counts fit the hash map
      or duplicates are common.
    - n ('prepartition'): explicit repartition into n partitions on the
      dedup key first, so the aggregate runs only after that exchange and
      skips the map-side partial pass.  Web-scale triple streams are mostly
      UNIQUE rows — partial aggregation then reduces nothing while building
      (and spilling) a giant per-task hash map.  Measured on 2.4M pages /
      57M rows at 8 cores: 300 s (partial) → 111 s (prepartition, ≈ the
      no-dedup write cost)."""
    if num_partitions is not None:
        triples = triples.repartition(num_partitions, *_EDGE_COLS)
    return triples.dropDuplicates(_EDGE_COLS)


# identifier predicates and the prefix of the blocking key each makes
# ('isbn13:<isbn>'); the extract stage's side sink writes the same keys
BLOCK_PREDS = {V.BIBO_ISBN13: "isbn13", V.BIBO_LCCN: "lccn",
               V.BIBO_OCLCNUM: "oclc"}
# author names block by MinHash-LSH over character 3-grams: NAME_BANDS
# bands of NAME_BAND_ROWS permutations each
NAME_BANDS = 4
NAME_BAND_ROWS = 2
# a blocking key shared by more entities is a super-block, dropped by CC
MAX_BLOCK_DF = 100_000
# CC's round budget on either side; pointer jumping converges in
# O(log diameter) rounds, so running out of it raises
CC_MAX_ROUNDS = 20


# --- author-name band keys ---------------------------------------------------
# Pure Python, so the extract UDF computes them in the pass that already holds
# each name.  The hashes are Spark's XXH64 (``F.xxhash64``, seed 42) bit for
# bit, so a key equals the one the native expression
# ``xxhash64(min_g xxhash64(xxhash64(g), p) ...)`` gives.

_M64 = (1 << 64) - 1
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_XXH_SEED = 42
_NON_ALNUM = re.compile(r"[^A-Za-z0-9]")


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _fmix(h: int) -> int:
    h ^= h >> 33
    h = h * _P2 & _M64
    h ^= h >> 29
    h = h * _P3 & _M64
    return h ^ (h >> 32)


def _xxh_short(data: bytes, seed: int) -> int:
    """``XXH64.hashUnsafeBytes`` for fewer than 4 bytes (a gram is 1-3
    ASCII characters, so no 8- or 4-byte words)."""
    h = (seed + _P5 + len(data)) & _M64
    for b in data:
        h ^= b * _P5 & _M64
        h = _rotl(h, 11) * _P1 & _M64
    return _fmix(h)


def _xxh_long(v: int, seed: int) -> int:
    """``XXH64.hashLong``; ``v`` and ``seed`` as unsigned 64-bit ints."""
    h = (seed + _P5 + 8) & _M64
    h ^= _rotl(v * _P2 & _M64, 31) * _P1 & _M64
    return _fmix((_rotl(h, 27) * _P1 + _P4) & _M64)


def _xxh_int(v: int, seed: int) -> int:
    """``XXH64.hashInt`` of a non-negative int."""
    h = (seed + _P5 + 4) & _M64
    h ^= v * _P1 & _M64
    return _fmix((_rotl(h, 23) * _P2 + _P3) & _M64)


def _signed(u: int) -> int:
    return u - (1 << 64) if u >> 63 else u


# the cache holds every gram: at most 36^3 + 36^2 + 36 lowercase ones
@functools.lru_cache(maxsize=48_000)
def _gram_perms(gram: str) -> tuple[int, ...]:
    """A gram's NAME_BANDS * NAME_BAND_ROWS permutation hashes, signed (the
    order Spark's min compares in)."""
    h = _xxh_long(_xxh_short(gram.encode("ascii"), _XXH_SEED), _XXH_SEED)
    return tuple(_signed(_xxh_int(p, h))
                 for p in range(NAME_BANDS * NAME_BAND_ROWS))


def name_band_keys(name: str | None) -> list[str]:
    """MinHash-LSH band keys (``nameband:<b>:<signed hash>``) of an author
    name: ``[^A-Za-z0-9]`` removed, then lowercased; its distinct
    character 3-grams (the whole string when shorter than 3); per
    permutation ``p`` the min over grams of ``xxhash64(xxhash64(gram), p)``;
    band ``b`` is ``xxhash64`` of its NAME_BAND_ROWS mins.  A name with
    nothing left after the normalisation (or None) has no keys.  Two names
    sharing any band land in one block."""
    if name is None:
        return []
    norm = _NON_ALNUM.sub("", name).lower()
    if not norm:
        return []
    grams = {norm[i:i + 3] for i in range(max(len(norm) - 2, 1))}
    mins = [min(col) for col in zip(*map(_gram_perms, grams))]
    keys = []
    for b in range(NAME_BANDS):
        h = _XXH_SEED
        for m in mins[b * NAME_BAND_ROWS:(b + 1) * NAME_BAND_ROWS]:
            h = _xxh_long(m & _M64, h)
        keys.append(f"nameband:{b}:{_signed(h)}")
    return keys


def _name_band_frames(batches):
    """mapInPandas body: (name) rows -> (name, block_key) rows."""
    import pandas as pd

    for pdf in batches:
        rows = [(n, k) for n in pdf["name"] for k in name_band_keys(n)]
        yield pd.DataFrame(rows, columns=["name", "block_key"])


def blocking_keys(edges: DataFrame,
                  author_names: DataFrame | None = None) -> DataFrame:
    """(entity, block_key) pairs.

    Identifier keys come straight off the deduped edge table (already
    normalized by the extract semantics: ISBN cleanup/convert, LCCN strip,
    OCLC digits-only).  Author fuzzy keys are :func:`name_band_keys` of each
    distinct name (the function the extract UDF writes to the side sink),
    joined back to the ``(author_key, name)`` rows."""
    pred_map = F.create_map(*[F.lit(x) for kv in BLOCK_PREDS.items()
                              for x in kv])
    ids = (edges.filter(F.col("pred").isin(list(BLOCK_PREDS)))
           .select(F.col("subj").alias("entity"),
                   F.concat_ws(":", pred_map[F.col("pred")],
                               F.col("obj")).alias("block_key")))
    if author_names is None:
        return ids
    per_author = author_names.select("author_key", "name").dropDuplicates()
    bands = (per_author.select("name").distinct()
             .mapInPandas(_name_band_frames, "name string, block_key string"))
    return ids.unionByName(
        per_author.join(bands, "name")
        .select(F.concat(F.lit(V.URI_PREFIX),
                         F.col("author_key")).alias("entity"), "block_key")
        .dropDuplicates())


def _plan_nodes(df: DataFrame) -> int:
    """Node count of ``df``'s analyzed logical plan (no Spark action)."""
    def walk(p):
        ch = p.children()
        return 1 + sum(walk(ch.apply(i)) for i in range(ch.size()))
    return walk(df._jdf.queryExecution().analyzed())


# Largest build CC finishes on the driver, in bytes of the Arrow table it
# collects: Spark's default spark.driver.maxResultSize, past which the
# collect aborts.  The measurements behind it are in the
# canonical_map_from_blocks docstring.
DRIVER_FINISH_BYTES = 1 << 30


def _driver_finish_cap(spark) -> int:
    """``DRIVER_FINISH_BYTES``, lowered to the session's own
    ``spark.driver.maxResultSize`` when that is set lower (0: no limit)."""
    limit = spark.sparkContext._jsc.sc().conf().getSizeAsBytes(
        "spark.driver.maxResultSize", "1g")
    return min(DRIVER_FINISH_BYTES, limit) if limit > 0 else DRIVER_FINISH_BYTES


def _driver_components(entity, h1, h2, max_rounds: int):
    """Connected components of a bipartite (entity, block) edge list, in
    driver memory.  ``entity`` is an Arrow string array; a block is one
    distinct (h1, h2) pair of the int64 arrays.

    Entities get dense ids in UTF-8 byte order, which is code-point order
    and the order of Spark's ``min`` on strings, so the smallest id in a
    component is its smallest URI.  Each round hooks every member's root
    under the smallest root in its block, then pointer-jumps every label to
    its root; a round that changes no label is the fixpoint.  Returns
    (names, label, changed_hist): the sorted distinct entities, each one's
    component-min id, and the changed-label count of every round, the last
    of which is 0 unless ``max_rounds`` ran out first."""
    import numpy as np
    import pyarrow.compute as pc

    names = pc.unique(entity)
    names = names.take(pc.sort_indices(names))
    ids = pc.index_in(entity, value_set=names).to_numpy()
    order = np.lexsort((h2, h1))
    h1, h2, members = h1[order], h2[order], ids[order]
    first = np.ones(len(order), dtype=bool)
    first[1:] = (h1[1:] != h1[:-1]) | (h2[1:] != h2[:-1])
    starts = np.flatnonzero(first)
    sizes = np.diff(np.append(starts, len(order)))
    label = np.arange(len(names))
    changed_hist: list[int] = []
    while len(changed_hist) < max_rounds:
        root = label[members]
        hook = np.repeat(np.minimum.reduceat(root, starts), sizes)
        new = label.copy()
        np.minimum.at(new, root, hook)
        while True:
            jumped = new[new]
            if np.array_equal(jumped, new):
                break
            new = jumped
        changed_hist.append(int(np.count_nonzero(new != label)))
        label = new
        if changed_hist[-1] == 0:
            break
    return names, label, changed_hist


def _not_converged(changed_hist: list, n_rows: int):
    # fail LOUDLY rather than return a partially-merged map: the budget
    # exhausted with labels still changing means the output would silently
    # under-merge (the engine's no-silent-caps rule).  Unreachable with the
    # default budget -- pointer jumping bounds convergence at O(log
    # diameter) -- so hitting this means the budget was cut or the graph
    # violates the blocking assumptions; both deserve a stop.
    return RuntimeError(
        f"connected components did not converge in {CC_MAX_ROUNDS} "
        f"rounds: {changed_hist[-1]} rows still changing over a "
        f"{n_rows}-row frontier (changed_hist={changed_hist}); raise "
        f"CC_MAX_ROUNDS or inspect the blocking keys for super-components")


def canonical_map_from_blocks(block_ids: DataFrame, checkpoint_dir: str,
                              stats: dict) -> DataFrame:
    """(entity, canonical_id) for all entities resolvable via blocking keys:
    the connected components of the bipartite (entity, block_key) graph of
    ``block_ids``.  Only entities with at least one *merge-capable* block
    key (df >= 2) are in the map; the others are their own canonical id
    (consumers treat absence as identity).  canonical_id is the
    lexicographic MIN entity URI of the component, whichever side finishes
    it.  The pipeline feeds the extract stage's ``block_id`` sink rows
    here: the identifier keys and the author-name band keys the UDF
    computed, so entity resolution never re-scans the edge table nor hashes
    a name again (and can run concurrently with the link stage, which only
    appends join-born predicates that are never blocking keys).

    A size-dispatched plan, like :func:`plan_dedup`.  One distributed BUILD
    step keeps the (entity, block) pairs of merge-capable blocks, with both
    sides hash-encoded and the entity string carried along; its row count
    and the size of its collect (the entities' UTF-8 bytes plus 21 bytes a
    row: ~59 bytes a row of OpenLibrary URIs) are observed on the build's
    own action.  Then:

    - DRIVER FINISH, when that collect fits the driver: at most
      ``DRIVER_FINISH_BYTES`` (1 GiB, ~18M rows of OpenLibrary URIs) and
      at most the session's ``spark.driver.maxResultSize``.  One
      ``toArrow()`` collects (entity, block hash) and
      :func:`_driver_components` finishes in numpy.  The map comes back as
      ``spark.createDataFrame`` of the Arrow result: no iterations, no
      contractions, no unwind joins.
    - DISTRIBUTED LOOP, for a build the driver cannot receive: hash-min
      label propagation on the executors, below.

    The cap is where the driver side stops working, not a crossover: no
    crossover was found.  On a 4-CPU host (local[4], warm session,
    synthetic chains of four 8-entity stars, reliable checkpoints as the
    pipeline runs them), CC plus the map's write, two runs a side:

    ==========  ==============  ==============  ===============
    build rows  loop            driver          finish alone
    ==========  ==============  ==============  ===============
    250k        11.5-13.0 s     3.2-3.6 s       0.6 s
    1M          21.9-23.2 s     7.2-8.9 s       1.9-2.4 s
    2M          37.0-47.0 s     13.9-16.5 s     4.5-5.4 s
    4M          62.5-63.4 s     24.7-29.8 s     9.5-10.8 s
    ==========  ==============  ==============  ===============

    The driver side won at every size.  What it cannot do is receive a
    build past the collect limit: Spark aborts a collect whose task results
    exceed ``spark.driver.maxResultSize`` (1 GiB by default).  Measured: a
    974k-row build (57.1 MB of task results) forced onto the driver under
    a 40m limit aborts ("Total size of serialized results ... is bigger
    than spark.driver.maxResultSize"), while under the cap the same build
    runs the loop instead (an 820,512-row map, as many rows as the driver
    side returns without the limit).  So the loop is the path for the
    graphs only it can run, and the cap is that limit, read from the
    session.  The finish's own numpy state peaks at ~135 bytes a row on top
    of the collected table (measured to 7.8M rows, 22 s), so a build at the
    1 GiB cap asks ~3.5 GB of the driver's Python process.

    Loop shape (round 5; the 2.4M-page gate showed this stage dominating):

    - the loop state is 128-BIT HASH-ENCODED: entities and block keys become
      (xxhash64(x), xxhash64(7, x)) structs once, so every iteration sorts
      and shuffles 16-byte fixed-width labels instead of URI strings (~5x
      less payload at web scale; false-merge P ~ n^2/2^128 ~ 1e-15 at 10^12
      entities);
    - each iteration is TWO key-partitioned window aggregations -- min-over-
      block then min-over-entity;
    - the graph is CONTRACTED once the census shows most rows stable (and
      unconditionally after iteration 0, which computes the 2-hop min and
      therefore already clusters): one row per (label, block) with
      each current label becoming a pseudo-entity, then blocks with < 2
      distinct pseudo-entities are dropped -- a fully-internal block can
      never merge anything again, so late iterations touch only the
      unresolved frontier (the gate corpus collapses 17M rows to the chain
      joints).  Final labels unwind through the recorded (entity -> label)
      mappings, outermost last, and the (entity hash -> entity) dictionary
      is read from the build checkpoint, so the unwind reads no input;
    - a POINTER-JUMP step (label <- label-of-label, one self-join) engages
      on a roughly-flat census -- the signature of chain-at-a-time
      propagation -- and compresses chains in O(log diameter) rounds; star
      blocks collapse geometrically and never pay it.  Past
      ``CC_MAX_ROUNDS // 2`` it engages unconditionally as a convergence
      backstop.

    ONE RELIABLE CHECKPOINT PER STEP.  A step is the mergeable-state build,
    one label-propagation iteration, or one contraction; each is a single
    eager ``checkpoint`` into ``checkpoint_dir`` (distributed storage on a
    cluster), so an executor loss recovers from storage instead of
    recomputing the loop.  Every step's plan therefore starts from the
    previous step's checkpoint, so plan size is constant across iterations
    (``stats["plan_nodes"]``).  The step's censuses ride on that same
    action through ``Observation``: super-block drops (build), row count
    (every step) and changed count (iterations) -- no separate count, first
    or pin job.  A reliable checkpoint pins no executor blocks, so there is
    nothing to release: the loop's map is its unwind, a lazy plan over the
    step files, and the driver's is a local relation.  The caller deletes
    ``checkpoint_dir`` once it has written the map.

    Either side raises ``RuntimeError`` rather than return an under-merged
    map when ``CC_MAX_ROUNDS`` rounds pass without a fixpoint.

    ``stats`` (a dict) receives the super-block guard's census
    (dropped_super_blocks, dropped_pair_rows) and: finish ("driver" |
    "loop"), iterations, jump_engaged_at, changed_hist, iter_walls
    (per-iteration seconds; the driver side's one entry is the whole
    finish), contractions (at_iter / rows_before / rows_after censuses --
    no silent shrinks), converged, plan_nodes (analyzed-plan node count per
    step: build, iterations, contractions).  The driver side jumps from its
    first round and never contracts.
    """
    import itertools
    import time as _time
    from pyspark.sql import Observation

    spark = block_ids.sparkSession
    spark.sparkContext.setCheckpointDir(checkpoint_dir)
    plan_nodes: dict = {"build": [], "iterations": [], "contractions": []}
    step_ids = itertools.count()

    def step(kind: str, df: DataFrame, cols: list, **census):
        """Materialize ``df.select(cols)`` with one eager checkpoint; the
        row count and the ``census`` aggregates are observed on ``df`` by
        that same action.  Returns (checkpoint, observed values)."""
        obs = Observation(f"cc_step_{next(step_ids)}")
        out = (df.observe(obs, F.count(F.lit(1)).alias("rows"),
                          *[e.alias(k) for k, e in census.items()])
               .select(*cols))
        plan_nodes[kind].append(_plan_nodes(out))
        return out.checkpoint(eager=True), obs.get

    def _h(col: str):
        return F.struct(F.xxhash64(F.col(col)).alias("h1"),
                        F.xxhash64(F.lit(7), F.col(col)).alias("h2"))

    # the entity string rides along, so the build is also the finish's
    # input and the unwind's dictionary; a (2^-128) entity-hash collision
    # keeps both strings, so the result stays deterministic
    pe = block_ids.select(_h("entity").alias("eh"),
                          _h("block_key").alias("bh"),
                          F.col("entity")).dropDuplicates()

    # only keys shared by >=2 entities can merge anything -- this drops the
    # (at web scale, vast) unique-identifier majority before the loop;
    # SHUFFLE_HASH: AQE would otherwise broadcast the large side per plan.
    # MAX_BLOCK_DF additionally drops SUPER-BLOCKS (df > cap): a blocking
    # key shared by 100k+ entities -- a hub author name, a placeholder ISBN,
    # a degenerate band bucket -- carries no discriminating evidence, chains
    # unrelated entities into one giant component, and blows up both the
    # window sizes and the iteration count (component diameter).  This is
    # the standard entity-resolution guard; what it discarded goes into
    # ``stats`` (no silent caps), observed on the block census inside the
    # state build's own action.
    drops = Observation(f"cc_step_{next(step_ids)}")
    big = F.col("df") > MAX_BLOCK_DF
    dfs = (pe.groupBy("bh").agg(F.count(F.lit(1)).alias("df"))
           .observe(drops, F.count(F.when(big, 1)).alias("k"),
                    F.sum(F.when(big, F.col("df"))).alias("rows")))
    mergeable = dfs.filter((F.col("df") >= 2) & ~big).select("bh")
    build, seen = step("build", pe.join(mergeable.hint("SHUFFLE_HASH"), "bh"),
                       ["eh", "bh", "entity"],
                       ebytes=F.sum(F.octet_length("entity")))
    n_rows = seen["rows"]
    # the finish's collect as Spark counts it against maxResultSize: a row
    # is the entity's UTF-8 bytes, its 4-byte Arrow offset, the two int64
    # block hashes and ~0.7 bytes of validity bits and IPC framing
    # (measured: 57.1 MB of task results for a 56.4 MB table of 974k rows)
    n_bytes = (seen["ebytes"] or 0) + 21 * n_rows
    stats["dropped_super_blocks"] = drops.get["k"] or 0
    stats["dropped_pair_rows"] = drops.get["rows"] or 0

    if n_bytes <= _driver_finish_cap(spark):
        import pyarrow as pa
        t_fin = _time.time()
        tbl = build.select("entity", F.col("bh.h1").alias("h1"),
                           F.col("bh.h2").alias("h2")).toArrow()
        names, label, changed_hist = _driver_components(
            tbl.column("entity"), tbl.column("h1").to_numpy(),
            tbl.column("h2").to_numpy(), CC_MAX_ROUNDS)
        converged = not changed_hist or changed_hist[-1] == 0
        stats.update(finish="driver", iterations=len(changed_hist),
                     jump_engaged_at=0, changed_hist=changed_hist,
                     iter_walls=[round(_time.time() - t_fin, 2)],
                     contractions=[], converged=converged,
                     plan_nodes=plan_nodes)
        if not converged:
            raise _not_converged(changed_hist, n_rows)
        return spark.createDataFrame(pa.table(
            {"entity": names, "canonical_id": names.take(label)}))

    wk = Window.partitionBy("bh")
    we = Window.partitionBy("eh")
    state = build
    changed_hist: list[int] = []
    iter_walls: list[float] = []
    contractions: list[dict] = []
    # checkpointed states each contraction started from, outermost first:
    # their (entity -> label) projections are the unwind's mappings
    sources: list[DataFrame] = []
    jump_on = False
    jump_engaged_at: int | None = None
    last_contract = -2
    for i in range(CC_MAX_ROUNDS):
        t_iter = _time.time()
        # min(label) over the block, then min of that over the entity; both
        # include the row's own label, so labels decrease monotonically
        # (the build's label is its entity hash)
        win = (state
               .select("eh", "bh",
                       F.col("eh" if state is build else "label")
                       .alias("label"))
               .withColumn("_kmin", F.min("label").over(wk))
               .withColumn("_new", F.min("_kmin").over(we))
               .select("eh", "bh",
                       F.col("_new").alias("label"),
                       (~(F.col("_new") == F.col("label"))).cast("int")
                       .alias("_chg")))
        if not jump_on and i >= 2:
            # engage the jump only when the changed census is NOT collapsing
            # geometrically (see docstring): flat counts mean chains, which
            # need O(log d) jumping; a >=4x per-round drop means stars about
            # to hit 0, for which the jump is pure overhead.
            prev, prev2 = changed_hist[-1], changed_hist[-2]
            jump_on = prev > 0 and (prev * 4 > prev2
                                    or i >= CC_MAX_ROUNDS // 2)
            if jump_on:
                jump_engaged_at = i
        if jump_on:
            # pointer jump: label <- label(label).  Labels are entity ids,
            # so the per-entity label map applied to the label column
            # halves every chain.  Both sides read `win` over the previous
            # checkpoint, so the plan stays the same size every iteration;
            # the census is observed on the post-join projection (a stable
            # window step implies a stable jump, so observing window-step
            # changes remains a sound convergence test).
            jmp = (win.select(F.col("eh").alias("label"),
                              F.col("label").alias("_jmp"))
                   .dropDuplicates(["label"]))
            win = (win.join(jmp, "label", "left")
                   .select("eh", "bh",
                           F.coalesce("_jmp", "label").alias("label"),
                           "_chg"))
        state, seen = step("iterations", win, ["eh", "bh", "label"],
                           n=F.sum("_chg"))
        n_rows = seen["rows"]
        n_changed = int(seen["n"] or 0)
        changed_hist.append(n_changed)
        if n_changed == 0 or n_rows == 0:
            iter_walls.append(round(_time.time() - t_iter, 2))
            break
        # -- contraction: unconditional after iteration 0 (which already
        # computed the 2-hop min, so clusters exist to contract), then
        # whenever most rows are stable; bounded at 4 levels (each costs
        # ~1 cheap pass and shrinks every later iteration, so it always
        # pays back on big graphs and costs epsilon on small ones --
        # tests run through it too).  Star-only graphs contract to an
        # EMPTY frontier here and exit after a single full-size pass.
        if (len(sources) < 4 and i - last_contract >= 2
                and (i == 0 or n_changed * 2 < n_rows)):
            sources.append(state)
            cstate = state.select(F.col("label").alias("eh"), "bh").distinct()
            cdfs = cstate.groupBy("bh").agg(F.count(F.lit(1)).alias("df"))
            cstate = cstate.join(cdfs.filter(F.col("df") >= 2).select("bh")
                                 .hint("SHUFFLE_HASH"), "bh")
            state, seen = step("contractions", cstate,
                               ["bh", "eh", F.col("eh").alias("label")])
            contractions.append({"at_iter": i, "rows_before": n_rows,
                                 "rows_after": seen["rows"]})
            n_rows = seen["rows"]
            last_contract = i
        iter_walls.append(round(_time.time() - t_iter, 2))
        if n_rows == 0:
            break
    converged = (not changed_hist or changed_hist[-1] == 0 or n_rows == 0)
    stats.update(finish="loop", iterations=len(changed_hist),
                 jump_engaged_at=jump_engaged_at, changed_hist=changed_hist,
                 iter_walls=iter_walls, contractions=contractions,
                 converged=converged, plan_nodes=plan_nodes)
    if not converged:
        raise _not_converged(changed_hist, n_rows)
    # unwind: pseudo-entity labels -> previous level's labels, innermost
    # mapping first; a pseudo-entity absent from the contracted loop output
    # was removed by the df>=2 refilter with its component fully converged,
    # so its label is final (coalesce keeps it)
    comp = state.select("eh", "label").distinct()
    for src in reversed(sources):
        m = (src.select("eh", F.col("label").alias("_plabel"))
             .distinct())
        c = (comp.withColumnRenamed("eh", "_pe")
             .withColumnRenamed("label", "_flabel"))
        comp = (m.join(c, m["_plabel"] == c["_pe"], "left")
                .select("eh",
                        F.coalesce("_flabel", "_plabel").alias("label")))
    comp = comp.join(build.select("eh", "entity").distinct(), "eh")
    # representative = min entity URI per component, exactly as the string-
    # label loop chose it (labels are internal ids only); ONE window pass
    # instead of groupBy + join-back — the rows are already co-partitioned
    # by label for the min, so the join-back shuffle would be pure waste
    return (comp.withColumn("canonical_id",
                            F.min("entity").over(Window.partitionBy("label")))
            .select("entity", "canonical_id").distinct())
