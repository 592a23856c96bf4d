"""LSH banding, candidate pairs, connected components, canonical selection.

This is the stage the reference collapsed to the driver (bucket dict +
union-find over ``take_all()``, dedup/dedup.py:158-197, with its own
"don't do this when edges are large" warning). Here the data-sized steps
are distributed DataFrame ops, so the whole dedup scales with the cluster:

  band rows   : explode k/r bands per doc           (narrow, no shuffle)
  buckets     : groupBy/self-join on (band_id, hash) (1 shuffle, AQE skew)
  pairs       : per-bucket combinations with a size cap (the O(n^2) guard
                the reference left as a TODO, dedup/dedup.py:92-93)
  components  : size-gated: union-find on the driver for at most
                DRIVER_MAX_ROWS edges, else iterative min-label
                propagation (loop of shuffles, O(log n) rounds)
  canonical   : window top-1 per component on (ts, length, doc_id) desc
  keep        : left-anti / left-outer join against the removal set

The driver sees data only behind a size gate with a distributed fallback,
each bounded by ``functions.localframe.DRIVER_MAX_ROWS`` rows:

- minhash_dedup's keyed band rows: at most DRIVER_MAX_ROWS of them are
  collected once, and the bucket cap, union-find and keep rule run on the
  driver (the chain above is its distributed fallback);
- connected_components' edge collect;
- minhash_incremental_dedup_indexed's two probes of the persisted band
  index (the increment's band rows, then the base rows of the buckets
  they touch).

Both dedup paths share one driver keep rule (:func:`_driver_keep`), and
every band-row collect has the one bounded shape of
``localframe.bounded_rows``. The gates read DRIVER_MAX_ROWS at call time,
so tests force the distributed side by patching it in
``functions.localframe``.
"""

from __future__ import annotations

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType
from pyspark.sql.window import Window
from llm_data_pipeline_spark.functions.checkpoint import cut_lineage
from llm_data_pipeline_spark.functions import localframe
from llm_data_pipeline_spark.functions.localframe import (
    bounded_rows,
    fits_driver,
    local_df,
)

DEFAULT_ROWS_PER_BAND = 4
DEFAULT_BUCKET_CAP = 500


def band_rows(
    df_sig: DataFrame,
    rows_per_band: int = DEFAULT_ROWS_PER_BAND,
    id_col: str = "doc_id",
    signature_col: str = "signature",
    hash_fn=None,
) -> DataFrame:
    """Explode each document into one row per band:
    (band_id, band_hash, doc_id, ts, length).

    band_hash = sha1 of the comma-joined signature slice (reference
    dedup/dedup.py:18-24 — signed-long string rendering here, equality-only
    use makes the representation irrelevant). ``hash_fn`` overrides the
    digest (band_index_rows passes F.md5 so the PERSISTED index key is
    DuckDB-replayable); semantics are unchanged under any injective digest.
    """
    hash_fn = hash_fn or F.sha1
    ts = F.col("ts") if "ts" in df_sig.columns else F.lit(0).cast("long")
    length = (
        F.col("length")
        if "length" in df_sig.columns
        else F.length(F.col("text"))
    )
    n_bands = F.floor(F.size(F.col(signature_col)) / rows_per_band).cast("int")
    return (
        df_sig.select(
            F.col(id_col).alias("doc_id"),
            ts.alias("ts"),
            length.cast("long").alias("length"),
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), n_bands - 1),
                    lambda b: hash_fn(
                        F.concat_ws(
                            ",",
                            F.transform(
                                F.slice(
                                    F.col(signature_col),
                                    b * rows_per_band + 1,
                                    rows_per_band,
                                ),
                                lambda v: v.cast("string"),
                            ),
                        )
                    ),
                )
            ).alias("band_id", "band_hash"),
        )
    )


def candidate_pairs(
    bands: DataFrame,
    bucket_cap: int = DEFAULT_BUCKET_CAP,
    strategy: str = "groupby",
) -> DataFrame:
    """Distinct candidate edges (u < v) from same-bucket co-occurrence.

    Buckets larger than ``bucket_cap`` docs are dropped entirely (a
    mega-bucket means a degenerate band — pairing it would produce O(n^2)
    edges and its members are connected through other bands anyway).

    strategy='groupby' (default): a count aggregate first identifies the
    buckets with 2..cap members (map-side partial counts — the shuffle
    carries one row per distinct bucket), a semi-join prunes the band rows
    to those buckets, and only then does collect_list build the bounded
    member arrays. The prefilter order matters at scale: a degenerate
    mega-bucket (e.g. every empty doc shares the all-zero signature, hence
    identical band hashes in every band) must never be materialized as one
    aggregation-buffer row just to be dropped by a size filter —
    collect_list buffers cannot spill mid-row. After the prefilter,
    per-bucket work is <= cap^2/2 structs and the only other shuffle is
    the final pair dedup. strategy='join': the window-count +
    equi-self-join formulation (2 wide stages before the dedup); kept for
    comparison and for caps large enough that a cap^2-sized pair array per
    bucket would not fit a row.
    """
    if strategy == "join":
        sized = bands.withColumn(
            "bucket_n",
            F.count("*").over(Window.partitionBy("band_id", "band_hash")),
        ).where(F.col("bucket_n") <= bucket_cap)
        left = sized.select("band_id", "band_hash", F.col("doc_id").alias("u"))
        right = sized.select("band_id", "band_hash", F.col("doc_id").alias("v"))
        return (
            left.join(right, ["band_id", "band_hash"])
            .where(F.col("u") < F.col("v"))
            .select("u", "v")
            .dropDuplicates(["u", "v"])
        )
    in_cap = (
        bands.groupBy("band_id", "band_hash")
        .agg(F.count("*").alias("bucket_n"))
        .where((F.col("bucket_n") >= 2) & (F.col("bucket_n") <= bucket_cap))
        .select("band_id", "band_hash")
    )
    buckets = (
        bands.join(in_cap, ["band_id", "band_hash"], "left_semi")
        .groupBy("band_id", "band_hash")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ds"))
    )
    ds = F.col("ds")
    pair_structs = F.flatten(
        F.transform(
            F.sequence(F.lit(0), F.size(ds) - 2),
            lambda i: F.transform(
                F.slice(ds, i + 2, F.size(ds) - 1 - i),
                lambda v: F.struct(
                    F.element_at(ds, i + 1).alias("u"), v.alias("v")
                ),
            ),
        )
    )
    return (
        buckets.select(F.explode(pair_structs).alias("p"))
        .select(F.col("p.u").alias("u"), F.col("p.v").alias("v"))
        .dropDuplicates(["u", "v"])
    )


def band_bucket_stats(
    bands: DataFrame,
    bucket_cap: int = DEFAULT_BUCKET_CAP,
) -> DataFrame:
    """Per-band audit of the bucket-cap guard — the "no silent caps" rule
    applied to candidate_pairs' mega-bucket drop.

    ``candidate_pairs`` drops buckets larger than ``bucket_cap`` entirely
    (the O(n^2) guard). Correct, but at 100 TB a degenerate band (every
    empty doc sharing the all-zero signature, a boilerplate string
    saturating one shingle) silently deletes recall unless the drop is
    OBSERVABLE. This emits, per band_id, over buckets with >= 2 members:

      n_buckets / n_dropped_buckets       — how many, how many capped
      docs_in_dropped                     — members losing this band's edges
      pairs_dropped / pairs_kept          — n*(n-1)/2 candidate pairs the
                                            cap removed vs what survived
      max_bucket_n                        — the largest bucket seen (the
                                            degenerate-band fingerprint)

    One count aggregate over (band_id, band_hash) then a per-band rollup —
    the same map-side-combinable shape as candidate_pairs' own prefilter,
    so auditing costs one extra pass over the (narrow) band rows, never
    touches documents, and is safe to run on every production dedup.
    """
    sizes = bands.groupBy("band_id", "band_hash").agg(
        F.count("*").alias("n")
    )
    dropped = F.col("n") > bucket_cap
    pairs = F.expr("(n * (n - 1)) DIV 2")
    zero = F.lit(0).cast("long")
    return (
        sizes.where(F.col("n") >= 2)
        .groupBy("band_id")
        .agg(
            F.count("*").cast("long").alias("n_buckets"),
            F.sum(F.when(dropped, 1).otherwise(0))
            .cast("long")
            .alias("n_dropped_buckets"),
            F.coalesce(F.sum(F.when(dropped, F.col("n"))), zero)
            .cast("long")
            .alias("docs_in_dropped"),
            F.coalesce(F.sum(F.when(dropped, pairs)), zero)
            .cast("long")
            .alias("pairs_dropped"),
            F.coalesce(F.sum(F.when(~dropped, pairs)), zero)
            .cast("long")
            .alias("pairs_kept"),
            F.max("n").cast("long").alias("max_bucket_n"),
        )
    )


def connected_components(
    edges: DataFrame,
    max_iterations: int = 25,
) -> DataFrame:
    """Connected components over an undirected edge list, size-gated.

    Returns (doc_id, component) where component = min doc_id reachable.

    Two physical strategies behind one semantic:

    - **Small graphs** (≤ ``DRIVER_MAX_ROWS`` edges, counted after a
      persist so the upstream pair-generation runs once): collect the edge
      list and run path-compressed union-find with union-by-min on the
      driver — one job instead of one-per-propagation-round. This is the
      reference's approach (dedup/dedup.py:103-120) kept where it is
      actually optimal; its flaw was having no other path.
    - **Large graphs**: distributed min-label propagation
      (join-until-fixpoint). Each round every node adopts the minimum
      label among itself and its neighbors; stop when a round changes
      nothing. Near-dup clusters are tiny/dense, so this converges in a
      handful of rounds; localCheckpoint truncates the growing lineage
      each round (at cluster scale use
      ``spark.sparkContext.setCheckpointDir`` + reliable checkpoints).

    Both produce identical labels: union-by-min makes each DSU root the
    minimum member of its set, exactly the propagation fixpoint.
    """
    # Eager localCheckpoint instead of persist(): the gate needs a count
    # and then either a driver collect (DSU) or repeated propagation scans.
    # With persist() BOTH the count and the next consumer re-plan the full
    # pair-generation tree through Catalyst (the cache only dedups
    # execution, not planning — measured ~0.3-0.5 s of driver time per
    # extra planning pass on the dedup queries); the checkpoint cuts the
    # lineage so every later action plans a trivial RDD scan. Blocks are
    # freed by the ContextCleaner once the frame is garbage collected.
    edges = edges.transform(cut_lineage, eager=True)
    if edges.count() <= localframe.DRIVER_MAX_ROWS:
        return _driver_dsu_components(edges)
    return _propagation_components(edges, max_iterations)


def _propagation_components(
    edges: DataFrame,
    max_iterations: int,
    stats: dict | None = None,
) -> DataFrame:
    """Min-label propagation with pointer jumping.

    Each round does (1) the neighbor-min update — every node adopts the
    minimum label among itself and its neighbors — and (2) a pointer-jump
    (path-halving) step: because labels ARE node ids, a node can adopt its
    label's own label (``component -> label(component)``), which doubles
    the distance information travels per round. Dense near-dup clusters
    converge in 1-2 rounds either way; the jump is what makes adversarial
    shapes (long chains from overlapping incremental buckets) converge in
    O(log n) rounds instead of O(diameter) — at 100 TB a 10^6-long chain
    is ~20 rounds, not 10^6. Both steps only ever lower labels toward the
    same fixpoint (min reachable id), so the result is unchanged
    (equality with the driver DSU is test-pinned, including a long chain
    on the forced-distributed path).
    """
    sym = edges.union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    # lazy checkpoints: the first iteration's count materializes them, so
    # lineage truncation costs no extra jobs
    sym = sym.transform(cut_lineage, eager=False)
    labels = (
        sym.select(F.col("u").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
        .transform(cut_lineage, eager=False)
    )
    rounds = 0
    n_changed = -1  # sentinel: loop never ran -> converged False
    for _ in range(max_iterations):
        rounds += 1
        neighbor_min = (
            sym.join(labels, sym.u == labels.id)
            .groupBy(F.col("v").alias("id2"))
            .agg(F.min("component").alias("nbr_component"))
        )
        stepped = labels.join(
            neighbor_min, labels.id == neighbor_min.id2, "left"
        ).select(
            "id",
            F.least(
                F.col("component"), F.coalesce("nbr_component", "component")
            ).alias("component"),
        )
        # pointer jump: component := label(component). Labels are node ids,
        # so the lookup is a self-join; a miss (root) keeps its own.
        jump_src = stepped.select(
            F.col("id").alias("jid"), F.col("component").alias("jcomp")
        )
        updated = (
            stepped.join(jump_src, stepped.component == jump_src.jid, "left")
            .select(
                "id",
                F.least(
                    F.col("component"), F.coalesce("jcomp", "component")
                ).alias("component"),
            )
            .transform(cut_lineage, eager=False)
        )
        # convergence: any label lowered this round? (join against the
        # previous labels; both frames are checkpointed, so this is one
        # cheap job, not a lineage replay)
        prev = labels.select(
            F.col("id").alias("pid"), F.col("component").alias("pcomp")
        )
        n_changed = (
            updated.join(prev, updated.id == prev.pid)
            .where(F.col("component") < F.col("pcomp"))
            .count()
        )
        labels = updated
        if n_changed == 0:
            break
    if stats is not None:
        stats["rounds"] = rounds
        stats["converged"] = n_changed == 0
    return labels.select(F.col("id").alias("doc_id"), "component")


def _union_find(edges) -> dict:
    """Path-compressed union-find with union-by-min over an iterable of
    (u, v) pairs; returns {node: root}. The root of every set is its
    minimum member, so labels match the distributed min-label fixpoint
    bit-for-bit."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for u, v in edges:
        if u not in parent:
            parent[u] = u
        if v not in parent:
            parent[v] = v
        ru, rv = find(u), find(v)
        if ru != rv:
            if ru < rv:
                parent[rv] = ru
            else:
                parent[ru] = rv
    return {x: find(x) for x in parent}


def _driver_dsu_components(edges: DataFrame) -> DataFrame:
    """:func:`_union_find` over a collected edge list, as (doc_id,
    component)."""
    # single collect, not toLocalIterator: the latter runs one sequential
    # job per partition; at ≤ threshold edges the list fits the driver
    labels = _union_find(edges.select("u", "v").collect())
    id_type = dict(edges.dtypes)["u"]
    return local_df(
        edges.sparkSession,
        list(labels.items()),
        schema=f"doc_id {id_type}, component {id_type}",
    )


def _incremental_keep(
    base_ids: DataFrame, new_sig: DataFrame, edges: DataFrame, id_col: str
) -> DataFrame:
    """Keep-rule tail of minhash_incremental_dedup_indexed's distributed path:
    components over the (new x base) ∪ (new x new) edges, drop every
    increment member of a component containing ANY base doc, keep the (ts,
    length, doc_id)-desc canonical of all-new components. ``base_ids`` needs
    only the id column (the base is already deduped — no metadata enters the
    rule)."""
    comps = connected_components(edges)

    base_meta = base_ids.select(
        F.col(id_col).alias("m_doc_id"),
        F.lit(False).alias("is_new"),
        F.lit(0).cast("long").alias("ts"),
        F.lit(0).cast("long").alias("length"),
    )
    ts = F.col("ts") if "ts" in new_sig.columns else F.lit(0).cast("long")
    length = (
        F.col("length") if "length" in new_sig.columns else F.length("text")
    )
    new_meta = new_sig.select(
        F.col(id_col).alias("m_doc_id"),
        F.lit(True).alias("is_new"),
        ts.alias("ts"),
        length.cast("long").alias("length"),
    )
    members = comps.join(
        base_meta.unionByName(new_meta), comps.doc_id == F.col("m_doc_id")
    ).select("doc_id", "component", "is_new", "ts", "length")
    has_base = members.groupBy("component").agg(
        F.max(~F.col("is_new")).alias("has_base")
    )
    w = Window.partitionBy("component").orderBy(
        F.desc("ts"), F.desc("length"), F.desc("doc_id")
    )
    new_members = (
        members.where(F.col("is_new"))
        .withColumn("_rk", F.row_number().over(w))
        .join(has_base, "component")
    )
    removals = new_members.where(
        F.col("has_base") | (F.col("_rk") != 1)
    ).select(F.col("doc_id").alias("_rm_doc_id"))
    return (
        new_sig.join(
            removals, F.col(id_col) == F.col("_rm_doc_id"), "left_outer"
        )
        .withColumn("kept", F.col("_rm_doc_id").isNull())
        .drop("_rm_doc_id")
    )


def _keyed_band_rows(
    df_sig: DataFrame, rows_per_band: int, id_col: str
) -> DataFrame:
    """(bh, doc_id, ts, length): band rows under the persisted index's
    md5 ``bh`` key, with the canonical-choice metadata kept."""
    return band_rows(df_sig, rows_per_band, id_col=id_col, hash_fn=F.md5).select(
        F.concat_ws(
            ":", F.col("band_id").cast("string"), F.col("band_hash")
        ).alias("bh"),
        "doc_id",
        "ts",
        "length",
    )


def _driver_keep(
    rows: pa.Table, base_bhs: list | tuple = (), base_docs: list | tuple = ()
) -> tuple[dict, list]:
    """Union-find and keep rule of both driver dedup paths.

    ``rows`` are the in-cap (bh, doc_id, ts, length) band rows of the docs
    being deduped; ``base_bhs``/``base_docs`` are the (bh, doc_id) rows of
    an already-deduped base in those buckets (none for minhash_dedup). A
    star around one member of each bucket spans the same component as the
    bucket's pairs, in O(members) edges. A component holding a base doc
    removes all of its ``rows`` docs (the base is already deduped, so its
    member is canonical); any other component keeps its (ts, length,
    doc_id)-desc canonical, with NULLs ranked last as in Spark. Returns ({doc: component
    root}, removed doc ids)."""
    bhs, docs, ts, length = (
        rows.column(c).to_pylist() for c in ("bh", "doc_id", "ts", "length")
    )
    hub: dict = {}
    edges = [(hub.setdefault(bh, d), d) for bh, d in zip(bhs, docs)]
    edges += [(hub[bh], d) for bh, d in zip(base_bhs, base_docs)]
    root = _union_find(edges)

    rank = {
        d: (t is not None, t, ln is not None, ln, d)
        for d, t, ln in zip(docs, ts, length)
    }
    with_base = {root[d] for d in base_docs}
    best: dict = {}
    for d, k in rank.items():
        c = root[d]
        if c not in with_base:
            if c not in best or k > rank[best[c]]:
                best[c] = d
    return root, [d for d in rank if best.get(root[d]) != d]


def _removal_frame(df: DataFrame, removed: list, id_col: str) -> DataFrame:
    """The removed ids as one Arrow-built ``_rm_doc_id`` frame of ``df``'s
    id type. One frame ships as one Arrow batch: a flat ~0.45 s from 10 to
    2,000 ids, against 1.1-1.5 s for ``isin`` and 0.57 s for ``local_df``
    at 2,000 ids (40-document increments, local[4])."""
    id_type = df.schema[id_col].dataType
    return df.sparkSession.createDataFrame(
        pd.DataFrame({"_rm_doc_id": removed}, dtype=object),
        StructType([StructField("_rm_doc_id", id_type, False)]),
    )


def band_index_rows(
    df_sig: DataFrame,
    rows_per_band: int = DEFAULT_ROWS_PER_BAND,
    id_col: str = "doc_id",
) -> DataFrame:
    """Band rows keyed for STORAGE: (bh, doc_id) where ``bh`` fuses
    (band_id, band_hash) into one join/bucket column — the layout the
    persisted 100-TB band index uses so a bucketed table on ``bh`` serves
    the daily incremental join without re-shuffling the base corpus.

    The digest is md5 (not band_rows' default sha1) so the stored key is
    replayable by the DuckDB oracle that grades the index-build query
    (minhash_band_index_build); bh is equality-only, so any injective
    digest yields identical dedup answers."""
    return _keyed_band_rows(df_sig, rows_per_band, id_col).select("bh", "doc_id")


def band_index_counts(index_bands: DataFrame) -> DataFrame:
    """Per-bucket size table (bh, base_n) computed ONCE at index-build
    time — the companion artifact that keeps the DAILY cap decision
    increment-bounded: minhash_incremental_dedup_indexed requires it, so
    no daily run re-counts every base band row (a re-count measurably
    erased the index's advantage)."""
    return index_bands.groupBy("bh").agg(F.count("*").alias("base_n"))


def minhash_incremental_dedup_indexed(
    index_bands: DataFrame,
    new_sig: DataFrame,
    index_counts: DataFrame,
    rows_per_band: int = DEFAULT_ROWS_PER_BAND,
    bucket_cap: int = DEFAULT_BUCKET_CAP,
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental fuzzy dedup: screen a signature-bearing increment
    against an already-deduped base corpus through the base's band index —
    the operator a continuous-ingest pipeline runs daily (the fuzzy twin
    of operators/bloom.py:incremental_exact_dedup). Returns the increment
    rows with ``kept: boolean`` appended.

    Edges are the new x base and new x new same-bucket pairs; no base x
    base pair is ever generated. A bucket is capped on its combined size
    over both sides, so a degenerate bucket (e.g. the all-zero empty-text
    signature) is dropped whichever side its members came from. Keep rule
    on the connected components of those edges: a component holding ANY
    base doc keeps none of its increment members (the base is already
    deduped, so its member is canonical); an all-new component keeps its
    (ts, length, doc_id)-desc canonical, matching minhash_dedup. Increment
    docs touching no edge are kept. Doc ids must be disjoint across base
    and increment.

    ``index_bands`` is the base corpus's (bh, doc_id) band-index table,
    written ONCE bucketed (and sorted) by ``bh`` (see band_index_rows /
    skew.write_bucketed), and ``index_counts`` its band_index_counts
    table (bh, base_n). A caller holding base signatures instead builds
    both with band_index_rows + band_index_counts. The daily run never
    re-reads base text, never recomputes base signatures and never
    re-aggregates the base band rows: only buckets the increment touches
    can form an edge, so their combined size base_n + new_n is all the cap
    needs (``bh`` is a bijection of (band_id, band_hash), so per-bh caps
    equal per-(band_id, band_hash) caps). The graded queries
    minhash_incremental_dedup and minhash_bucketed_index_dedup share one
    oracle, a full dedup of base ∪ increment. ``new_sig`` is read more
    than once, so pass a materialized frame (parquet or a lineage cut).

    Size gate. When the increment has at most DRIVER_MAX_ROWS band rows
    and Q2 below would return at most DRIVER_MAX_ROWS base rows, the
    screen is two bounded collects plus driver work (:func:`_driver_screen`):

    - Q1: the increment's (bh, doc_id, ts, length) band rows, with the
      same md5 ``bh`` as band_index_rows, bounded to
      ``limit(DRIVER_MAX_ROWS + 1)`` before they are left-joined to
      ``index_counts`` and collected as Arrow. Past the bound only one
      row, carrying the count, comes back. The driver counts new_n per bh
      and applies the cap 2 <= base_n + new_n <= bucket_cap.
    - Q2, only if some in-cap bucket holds base docs: ``index_bands``
      left-semi-joined to Q1's bh with base_n <= bucket_cap, collected as
      (bh, doc_id) Arrow. Q1's base_n gives its row count exactly, so the
      gate is decided before Q2 runs.
    - On the driver: union-find over the in-cap buckets' members and the
      keep rule of :func:`_incremental_keep`. ``kept`` rejoins ``new_sig``
      through one broadcast frame, and the result is one partition.

    Otherwise (and with the same answers) the screen runs distributed:
    bucketed sort-merge joins whose index side is never shuffled
    (plan-guarded in tests), connected_components over the new x base and
    new x new edges, and the keep rule as joins.

    The bound was measured for this path with synthetic 128-value
    signatures against a 30k-document index, local[4], 2 GiB driver heap.
    At 3k, 10k and 30k increment documents (96k, 320k and 960k band rows)
    the driver path took 3.0, 4.6 and 9.6 s and the distributed path 9.3,
    11.5 and 19.3 s, while the driver's Python peak RSS grew from ~145 MB
    to 197, 314 and 624 MB. An increment past the bound pays 0.4-1.5 s
    for Q1 before it falls back. Q2 near its bound was not measured.

    Two traps on the driver path, each measured on 40-document increments
    in a local[4] session:

    - Driver key sets shipped as per-item literals cost more than the jobs
      they save: ``isin`` over ~1.2k bh keys spent 0.75-1.5 s of py4j
      calls building the expression, and a SQL ``IN`` string was no faster
      end to end. So every probe is a join whose small side is derived in
      Spark from ``new_sig``, and the removal set travels as one Arrow
      frame (:func:`_removal_frame`).
    - Output layout: a map-side result writes one file per input split.
      The distributed path's final shuffle join is coalesced to one
      partition by AQE at this size, and without the ``coalesce(1)`` the
      driver path raised perfbench's ``write_amp`` from ~4.55 to ~5.06."""
    bn = _keyed_band_rows(new_sig, rows_per_band, id_col)
    counts = index_counts.select("bh", "base_n")
    # Q1. The increment side is bounded before the join (bounded_rows), so
    # the counts side of the join stays parallel. The lazy lineage cut is
    # materialized by Q1's own job, and Q2's probe reads it instead of
    # broadcasting the counts table again. new_sig is materialized, so one
    # partition reads it cheaply and spares the limit's shuffle stage (one
    # Spark job per increment).
    bound = localframe.DRIVER_MAX_ROWS
    probed = (
        bounded_rows(bn.coalesce(1), bound)
        .join(counts, "bh", "left")
        .transform(cut_lineage, eager=False)
    )
    inc = probed.toArrow()
    if fits_driver(inc, bound):
        out = _driver_screen(index_bands, new_sig, probed, inc, bucket_cap, id_col)
        if out is not None:
            return out
    bn = bn.select("bh", "doc_id")
    bb = index_bands.select("bh", "doc_id")
    new_counts = bn.groupBy("bh").agg(F.count("*").alias("new_n"))
    sizes = (
        new_counts.join(counts, "bh", "left")
        .select(
            "bh",
            (F.coalesce(F.col("base_n"), F.lit(0)) + F.col("new_n")).alias("n"),
        )
        .where((F.col("n") >= 2) & (F.col("n") <= bucket_cap))
        .select("bh")
    )
    bbs = bb.join(sizes, "bh", "left_semi")
    bns = bn.join(sizes, "bh", "left_semi").transform(cut_lineage, eager=False)
    nb = (
        bns.select("bh", F.col("doc_id").alias("u"))
        .join(bbs.select("bh", F.col("doc_id").alias("v")), "bh")
        .select("u", "v")
        .dropDuplicates(["u", "v"])
    )
    nn = (
        bns.select("bh", F.col("doc_id").alias("u"))
        .join(bns.select("bh", F.col("doc_id").alias("v")), "bh")
        .where(F.col("u") < F.col("v"))
        .select("u", "v")
        .dropDuplicates(["u", "v"])
    )
    # the only base docs a component can hold are the new x base edges'
    # base ends: taking them from there keeps the screen increment-bounded
    base_ids = nb.select(F.col("v").alias(id_col))
    return _incremental_keep(base_ids, new_sig, nb.unionByName(nn), id_col)


def _driver_screen(
    index_bands: DataFrame,
    new_sig: DataFrame,
    probed: DataFrame,
    inc: pa.Table,
    bucket_cap: int,
    id_col: str,
) -> DataFrame | None:
    """The driver half of minhash_incremental_dedup_indexed's size gate.
    ``inc`` is Q1's collected (bh, doc_id, ts, length, _bound_n, base_n) Arrow
    table, and ``probed`` the checkpointed frame it came from. The cap is
    decided in Arrow, and only the rows of in-cap buckets become Python
    lists: per-field access on Row objects cost more than the Spark jobs.
    Returns None when Q2 would return more than DRIVER_MAX_ROWS base rows
    (the caller then runs the distributed screen)."""
    sizes = inc.group_by("bh").aggregate([("bh", "count"), ("base_n", "max")])
    base_n = pc.fill_null(sizes["base_n_max"], 0)
    n = pc.add(base_n, sizes["bh_count"])
    in_cap = sizes.filter(
        pc.and_(pc.greater_equal(n, 2), pc.less_equal(n, bucket_cap))
    )["bh"]
    rows = inc.filter(pc.is_in(inc["bh"], value_set=in_cap))
    base_bhs, base_docs = [], []
    if pc.sum(rows["base_n"]).as_py():
        q2_rows = pc.sum(base_n.filter(pc.less_equal(base_n, bucket_cap)))
        if q2_rows.as_py() > localframe.DRIVER_MAX_ROWS:
            return None
        probe = probed.where(F.col("base_n") <= bucket_cap).select("bh")
        # hinted: the checkpointed probe has no size estimate, and a
        # shuffle join would cost AQE a stage before it switched anyway
        base = (
            index_bands.select("bh", "doc_id")
            .join(F.broadcast(probe), "bh", "left_semi")
            .toArrow()
        )
        base = base.filter(pc.is_in(base["bh"], value_set=in_cap))
        base_bhs, base_docs = (
            base.column(c).to_pylist() for c in ("bh", "doc_id")
        )

    # the keep rule of _incremental_keep, on the driver
    _, removed = _driver_keep(rows, base_bhs, base_docs)
    return (
        new_sig.join(
            F.broadcast(_removal_frame(new_sig, removed, id_col)),
            F.col(id_col) == F.col("_rm_doc_id"),
            "left_outer",
        )
        .withColumn("kept", F.col("_rm_doc_id").isNull())
        .drop("_rm_doc_id")
        .coalesce(1)
    )


def update_component_index(
    old_map: DataFrame,
    new_edges: DataFrame,
    new_ids: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Incrementally maintain a persisted near-dup COMPONENT MAP — the
    governance artifact takedown serving reads — without re-pairing the
    base corpus: connectivity of the old components is fully captured by
    their STAR EDGES (member -> component label, one edge per base doc,
    linear), so CC over (star edges ∪ today's new edges) equals CC over
    (all historical edges ∪ new edges). Because the old labels are
    component-minimum ids and min-label CC takes minima across merged
    sets, the refreshed labels are IDENTICAL to a full recompute over
    base ∪ increment — the daily map update costs O(|base| + |new edges|)
    instead of the base x base pair graph.

    ``new_edges``: today's (u, v) near-dup pairs touching the increment
    (new x base + new x new — the incremental screen's output; base x
    base pairs must NOT be regenerated, that is the point).
    ``new_ids``: the increment's ids (isolated new docs still need a
    singleton row). Returns the refreshed full map (doc_id, component).

    Reference parity: the component/canonical semantics being maintained
    are the reference's driver-side union-find labels
    (dedup/dedup.py:103-130); this operator keeps those labels stable
    under daily growth without the reference's full re-run.
    """
    star = old_map.where(F.col(id_col) != F.col("component")).select(
        F.col(id_col).alias("u"), F.col("component").alias("v")
    )
    comps = connected_components(
        star.unionByName(new_edges.select("u", "v"))
    )
    all_ids = (
        old_map.select(id_col)
        .unionByName(new_ids.select(id_col))
        .dropDuplicates([id_col])
    )
    return all_ids.join(comps, id_col, "left").select(
        id_col,
        F.coalesce(F.col("component"), F.col(id_col)).alias("component"),
    )


def canonical_per_component(
    members: DataFrame,
) -> DataFrame:
    """Pick one canonical doc per component by (ts, length, doc_id) DESC —
    the reference's tie-break (dedup/dedup.py:123-130) as a window top-1."""
    w = Window.partitionBy("component").orderBy(
        F.desc("ts"), F.desc("length"), F.desc("doc_id")
    )
    return (
        members.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") == 1)
        .select("component", F.col("doc_id").alias("canonical_doc_id"))
    )


def minhash_dedup(
    df_sig: DataFrame,
    rows_per_band: int = DEFAULT_ROWS_PER_BAND,
    bucket_cap: int = DEFAULT_BUCKET_CAP,
    id_col: str = "doc_id",
    stats: dict | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Full LSH dedup over a signature-bearing frame.

    Returns (kept_df, components_df): ``df_sig`` minus the non-canonical
    duplicates, and (doc_id, component) for every doc in a candidate
    bucket. With ``stats``, records ``removed_count`` in it.

    Size gate. When ``df_sig`` has at most DRIVER_MAX_ROWS band rows, they
    are collected once (the keyed md5 rows of the band index, bounded by
    ``localframe.bounded_rows``), and the driver applies the cap
    2 <= n <= ``bucket_cap`` in Arrow, then :func:`_driver_keep` (the daily
    screen's union-find and keep rule, with no base rows). The removals
    leave ``df_sig`` through a broadcast left-anti join with one Arrow
    frame, and the components are a local frame of the union-find roots;
    removed_count is Σ(component size − 1). The distributed chain cost the
    pipeline's clustering step 23 Spark jobs on perfbench's 80-doc corpus,
    most of them AQE query stages; tests/test_pipeline_e2e.py holds this
    path to at most 6.

    Past the bound the same answers come from the distributed chain:
    candidate_pairs, connected_components, canonical_per_component and a
    left-anti join against the removal set, which is counted in one job
    when ``stats`` is given.
    """
    bound = localframe.DRIVER_MAX_ROWS
    keyed = _keyed_band_rows(df_sig, rows_per_band, id_col)
    rows = bounded_rows(keyed, bound).toArrow()
    if fits_driver(rows, bound):
        sizes = rows.group_by("bh").aggregate([("bh", "count")])
        n = sizes["bh_count"]
        in_cap = sizes.filter(
            pc.and_(pc.greater_equal(n, 2), pc.less_equal(n, bucket_cap))
        )["bh"]
        root, removed = _driver_keep(
            rows.filter(pc.is_in(rows["bh"], value_set=in_cap))
        )
        if stats is not None:
            stats["removed_count"] = len(removed)
        id_type = dict(df_sig.dtypes)[id_col]
        comps = local_df(
            df_sig.sparkSession,
            list(root.items()),
            schema=f"doc_id {id_type}, component {id_type}",
        )
        # one partition, as AQE leaves the distributed path's shuffle join
        # at this size: a map-side join writes one file per input split.
        # A shuffle, not coalesce(1), so the scan and join stay parallel.
        kept = df_sig.join(
            F.broadcast(_removal_frame(df_sig, removed, id_col)),
            F.col(id_col) == F.col("_rm_doc_id"),
            "left_anti",
        ).repartition(1)
        return kept, comps

    # Stage the band rows: candidate_pairs consumes them twice (the
    # count-prefilter pass and the collect_list pass), and without a
    # boundary each pass re-runs the signature UDF upstream. Band rows are
    # far narrower than signatures (k/r sha1 strings vs k longs + text),
    # so this is the cheapest place to pin one evaluation. Lazy, not eager:
    # the two consumers are sibling map stages of the same first job and
    # can each compute the subtree before blocks exist, but that duplicate
    # overlaps on otherwise-idle cores — an eager checkpoint serializes the
    # materialization into its own job and measured strictly slower
    # (r9: steady 5.6 -> 9.6 s at sf0.1 with eager=True).
    bands = band_rows(df_sig, rows_per_band, id_col=id_col).transform(cut_lineage, 
        eager=False
    )
    edges = candidate_pairs(bands, bucket_cap)
    comps = connected_components(edges)
    # attach (ts, length) for canonical choice
    meta_cols = [F.col(id_col).alias("m_doc_id")]
    meta_cols.append(
        (F.col("ts") if "ts" in df_sig.columns else F.lit(0).cast("long")).alias("ts")
    )
    meta_cols.append(
        (
            F.col("length")
            if "length" in df_sig.columns
            else F.length("text")
        ).cast("long").alias("length")
    )
    meta = df_sig.select(*meta_cols)
    members = comps.join(meta, comps.doc_id == meta.m_doc_id).select(
        "doc_id", "component", "ts", "length"
    )
    canon = canonical_per_component(members)
    removals = (
        members.join(canon, "component")
        .where(F.col("doc_id") != F.col("canonical_doc_id"))
        .select(F.col("doc_id").alias("_rm_doc_id"))
    )
    if stats is not None:
        # the lazy cut is materialized by the count and read by the join
        removals = removals.transform(cut_lineage, eager=False)
        stats["removed_count"] = removals.count()
    kept = df_sig.join(
        removals, F.col(id_col) == F.col("_rm_doc_id"), "left_anti"
    )
    return kept, comps
