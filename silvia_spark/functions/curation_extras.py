"""Corpus-curation extras — SURVEY.md §2 J25–J27.

- J25 ``dedup_cluster_cc`` — near-duplicate CLUSTERING: the pair lists the
  J2/J13/J21 family emits answer "which docs are similar"; cluster-level
  dedup ("keep one doc per duplicate GROUP") needs the transitive closure.
  Connected components over the exact-Jaccard candidate graph via
  distributed min-label propagation; the oracle recomputes the closure with
  a recursive CTE, so the iteration's fixpoint is hash-proven, not assumed.
- J26 ``text_unicode_normalize`` — NFC normalization, the canonical first
  pass of a multilingual pretraining pipeline (decomposed e + U+0301 and
  precomposed é must dedup/fingerprint identically). Arrow-batched pandas
  UDF over Python's unicodedata vs DuckDB's utf8proc ``nfc_normalize`` —
  two independent Unicode implementations pinned to the same answer.
- J27 ``text_pii_scrub`` — email/phone redaction with an audit trail; the
  contract pins Java-regex vs RE2 semantics on the shared dialect subset.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from silvia_spark.io import ckpt_rdd, load_table
from silvia_spark.registry import contract

# --- J25: connected-components dedup clustering ------------------------------

_CC_TAU = 0.5
_CC_MAX_ITERS = 20

# Same shingle/pair CTEs as J21's oracle (tau relaxed to 0.5 so size-3
# components with a missing transitive edge exist in the corpus — the case
# where clustering differs from pair listing), then the closure: reach is
# seeded with (src, src) and saturated through the symmetric edge set;
# UNION (not UNION ALL) dedups paths so the recursion terminates.
_J25_ORACLE = f"""
WITH RECURSIVE s AS (
  SELECT doc_id,
         list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                        for i in generate_series(1, len(w)-2)]) AS sh
  FROM (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents)
), p AS (
  SELECT a.doc_id AS da, b.doc_id AS db
  FROM s a, s b
  WHERE a.doc_id < b.doc_id
    AND len(list_intersect(a.sh, b.sh)) * 1.0
        / len(list_distinct(list_concat(a.sh, b.sh))) >= {_CC_TAU}
), e AS (
  SELECT da AS src, db AS dst FROM p
  UNION ALL SELECT db, da FROM p
), reach(src, dst) AS (
  SELECT src, src FROM (SELECT DISTINCT src FROM e)
  UNION
  SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src
), cc AS (
  SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src
)
SELECT doc_id, cluster_id,
       count(*) OVER (PARTITION BY cluster_id) AS cluster_size
FROM cc
ORDER BY doc_id
"""


def _uf_find(parent: dict, x):
    """Union-find root lookup with path compression (iterative)."""
    root = x
    while parent[root] != root:
        root = parent[root]
    while parent[x] != root:
        parent[x], x = root, parent[x]
    return root


def _uf_absorb(batches) -> dict:
    """Shared edge-absorption loop for both UF kernels: seed parents and
    union-by-min every (doc_a, doc_b) across the pandas batches. ONE
    definition so the union discipline (min-id roots — the invariant that
    makes local roots component minima) cannot diverge between the
    phase-1 contraction and the phase-2 finish. Self-loops seed their
    node but union nothing."""
    parent: dict = {}
    for pdf in batches:
        for a, b in zip(pdf["doc_a"].tolist(), pdf["doc_b"].tolist()):
            if a not in parent:
                parent[a] = a
            if b not in parent:
                parent[b] = b
            ra, rb = _uf_find(parent, a), _uf_find(parent, b)
            if ra != rb:
                if ra < rb:
                    parent[rb] = ra
                else:
                    parent[ra] = rb
    return parent


def _star_edges(batches):
    """mapInPandas kernel: partition-LOCAL union-find over the edges that
    landed here, emitting EXACTLY ONE star edge (node, local_root) per
    node — roots emit their own (r, r) self-edge, so a node whose only
    incident pair is a self-loop still reaches phase 2 (min_label parity:
    it must come back labeled with itself, not vanish). Union-by-min
    keeps every local root the minimum doc_id of its local component, so
    labels only ever move toward the global minimum. Contracting each
    partition's components to stars preserves global connectivity (a
    star path exists wherever an edge path did), while cutting the edge
    volume to ≤ one edge per node and the intra-partition diameter to
    ≤ 2 — the classic two-phase MapReduce-CC reduction. Holds one
    partition's edge ENDPOINT SET in a Python dict: at 100 TB, size the
    upstream repartition so a partition's distinct ids fit an executor
    (ids are 8 B; 10⁸ ids ≈ few GB — generous headroom at default
    splits)."""
    parent = _uf_absorb(batches)
    if parent:
        nodes = list(parent)
        yield pd.DataFrame({
            "doc_a": nodes,
            "doc_b": [_uf_find(parent, n) for n in nodes]})


def _finish_uf(batches):
    """mapInPandas kernel for the single-task FINISH over the reduced star
    graph: exact union-find to the global fixpoint, emitting every node's
    (doc_id, cluster_id=component min, cluster_size). Only ever run when
    the reduced graph passed the size guard, so the dict is bounded."""
    parent = _uf_absorb(batches)
    roots = {n: _uf_find(parent, n) for n in parent}
    sizes: dict = {}
    for r in roots.values():
        sizes[r] = sizes.get(r, 0) + 1
    if roots:
        nodes = sorted(roots)
        yield pd.DataFrame({
            "doc_id": nodes,
            "cluster_id": [roots[n] for n in nodes],
            "cluster_size": [sizes[roots[n]] for n in nodes]})


# Star-edge count below which the reduced graph finishes in ONE task.
# The binding cost is NOT the 16-byte-edge arrow batch (~16 MB at 1M) but
# _finish_uf's Python dicts — parent + roots + sizes over boxed ints run
# ~100-200 bytes/node with dict overhead, so 1M edges ≈ a few hundred MB
# peak in one task: safe on a default 4-8 GB executor, where the old 5M
# default could OOM right at the guard boundary. Above it, the
# proven-convergent distributed propagation loop takes over.
_CC_LOCAL_FINISH_MAX = 1_000_000


def two_phase_components(pairs: DataFrame,
                         local_finish_max: int = _CC_LOCAL_FINISH_MAX,
                         max_iters: int = _CC_MAX_ITERS) -> DataFrame:
    """Two-phase connected components over an undirected pair list:
    ``(doc_id, cluster_id = component min doc_id, cluster_size)``.

    Phase 1 contracts each partition's local components to star edges with
    a mapInPandas union-find (_star_edges): one shuffle-free pass that cuts
    edge volume to ≤ #nodes and intra-partition diameter to ≤ 2. Phase 2
    resolves the cross-partition graph: when the reduced star set fits the
    ``local_finish_max`` guard, a single-task exact union-find finishes it
    in one job (the common case — near-dup graphs are tiny relative to the
    corpus, and phase 1 already shrank them); otherwise the proven
    O(log diameter) min-label + pointer-jump loop runs on the REDUCED
    graph, which both shrinks its per-round shuffles and (diameter already
    halved per partition) its round count. Correctness does not depend on
    the guard value — both finishes compute the same fixpoint, and the
    size check reads one scalar off the phase-1 checkpoint.

    localCheckpoint (not persist) for the star set: the count and the
    finish both read materialized blocks, and there is no caller-visible
    handle to unpersist at the right time — blocks free with the frame.

    Output ordering: BOTH paths return rows sorted by doc_id. The local
    finish emits one partition that _finish_uf already yields in sorted
    order — appending a caller-side ``orderBy`` on top re-plans a global
    sort whose range-partitioning SAMPLING pass re-executes the finish
    subtree (the single-task union-find ran twice per invocation;
    measured +1.0 s per run at sf0.1, guide §2.4 "an orderBy used only
    to make output deterministic"). The distributed path sorts
    explicitly — there the sort is real work over many partitions and
    its sampling reads the loop's checkpointed blocks, not a recompute."""
    t = pairs.schema["doc_a"].dataType.simpleString()
    stars = (pairs.mapInPandas(_star_edges, f"doc_a {t}, doc_b {t}")
             .localCheckpoint(eager=True))
    if stars.count() <= local_finish_max:
        return stars.repartition(1).mapInPandas(
            _finish_uf, f"doc_id {t}, cluster_id {t}, cluster_size bigint")
    cc = min_label_components(stars.select(
        F.col("doc_a"), F.col("doc_b")), max_iters=max_iters)
    size_w = Window.partitionBy("cluster_id")
    return (cc.withColumn("cluster_size", F.count(F.lit(1)).over(size_w))
            .orderBy("doc_id"))


def min_label_components(pairs: DataFrame,
                         max_iters: int = _CC_MAX_ITERS,
                         jump: bool = True) -> DataFrame:
    """Connected components of an undirected pair list ``(doc_a, doc_b)``
    by distributed min-label propagation. Returns ``(doc_id, cluster_id)``
    for every node appearing in ≥ 1 pair, where cluster_id is the
    component's minimum doc_id. Raises if no fixpoint within
    ``max_iters`` rounds.

    ``jump=True`` (default) adds pointer jumping after each propagation:
    lbl[u] ← lbl[lbl[u]], one extra ids-only self-join per round. This is
    the path-halving step of the large-star/small-star MapReduce CC family
    — labels chase their component minimum along geometrically doubling
    hops, so convergence is O(log diameter) rounds instead of
    O(diameter): a 60-node dup CHAIN (pathological boilerplate graph)
    finishes in 7 rounds where plain propagation needs 60 and would blow
    the 20-round bound (tests/test_curation_extras.py pins both facts).
    The invariant is unchanged — labels only decrease and stay inside the
    component, so the fixpoint is the component min either way.
    ``jump=False`` keeps the 1-join round for graphs known to be tiny
    cliques."""
    edges = (pairs.select(F.col("doc_a").alias("src"),
                          F.col("doc_b").alias("dst"))
             .union(pairs.select(F.col("doc_b").alias("src"),
                                 F.col("doc_a").alias("dst"))))
    edges = edges.persist()
    try:
        # Seed with the FIRST propagation already applied: lbl(u) =
        # min(u, min neighbor). This is exactly what round one's
        # neighbor-min step would compute from self-labels, so folding it
        # into the seed removes one full driver round (checkpoint +
        # action) from every invocation — material when rounds are
        # latency-bound (small graphs) and free at scale.
        cached = (edges.groupBy("src")
                  .agg(F.min("dst").alias("nbr"))
                  .select("src", F.least("src", "nbr").alias("lbl"))
                  .persist())
        cached.count()  # materialize before the loop
        labels = cached
        prev_ck = None  # previous round's checkpoint RDD, freed per round
        for _ in range(max_iters):
            nbr_min = (edges.join(labels.withColumnRenamed("src", "dst"),
                                  "dst")
                       .groupBy("src").agg(F.min("lbl").alias("nbr_lbl")))
            prop = (labels.withColumnRenamed("lbl", "old_lbl")
                    .join(nbr_min, "src", "left")
                    .select(
                        "src", "old_lbl",
                        F.least("old_lbl",
                                F.coalesce("nbr_lbl", "old_lbl"))
                        .alias("lbl")))
            if jump:
                # lbl[u] ← min(lbl[u], lbl[lbl[u]]): every label IS a
                # node id of the same component, so the mapping join is
                # total (left + coalesce guards the root, whose label is
                # itself). Shuffles (id, id) pairs only.
                m = prop.select(F.col("src").alias("jsrc"),
                                F.col("lbl").alias("jlbl"))
                prop = (prop.join(m, prop["lbl"] == m["jsrc"], "left")
                        .select(
                            "src", "old_lbl",
                            F.least("lbl", F.coalesce("jlbl", "lbl"))
                            .alias("lbl")))
            # The change flag rides INSIDE the merged frame, so ONE action
            # (the sum) both materializes the round's labels and decides
            # convergence — a merged-vs-old join + count would be a second
            # pass per round for the same information. localCheckpoint
            # (not persist) because the jump step is a SELF-join: a
            # persisted plan still embeds its child tree, so every round
            # would double the references to the previous round's plan —
            # exponential logical-plan growth that OOMs the driver by
            # round ~8 (reproduced on the 60-node chain test). Truncating
            # lineage each round keeps the plan O(1) deep; blocks are
            # freed by the ContextCleaner when the round's frame drops.
            # On a cluster with fault-tolerance needs, swap for
            # checkpoint() against a durable dir — same semantics.
            merged = (prop.select(
                          "src", "lbl",
                          (F.col("lbl") < F.col("old_lbl"))
                          .cast("long").alias("chg"))
                      .localCheckpoint(eager=False))
            # F.sum over ZERO rows is NULL — an empty pair list (no edges
            # at all) must read as "converged", not loop to the bound and
            # raise (caller-supplied frames can legitimately be empty).
            changed = merged.agg(F.sum("chg")).collect()[0][0] or 0
            if cached is not None:
                cached.unpersist()
                cached = None
            # The sum above materialized THIS round's checkpoint, so the
            # previous round's blocks are now dead weight — free them
            # eagerly instead of waiting for the ContextCleaner to GC the
            # dropped frame (a deep adversarial graph would otherwise
            # stack one executor-storage snapshot per round). The FINAL
            # round's blocks stay live: the returned frame reads them.
            if prev_ck is not None:
                prev_ck.unpersist(False)
            prev_ck = ckpt_rdd(merged)
            labels = merged.select("src", "lbl")
            if changed == 0:
                break
        else:
            raise RuntimeError(
                f"min_label_components: no fixpoint in {max_iters} rounds")
        return labels.select(F.col("src").alias("doc_id"),
                             F.col("lbl").alias("cluster_id"))
    finally:
        edges.unpersist()


@contract("dedup_cluster_cc", oracle=_J25_ORACLE)
def dedup_cluster_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster assignment: every document that has at least one
    Jaccard ≥ 0.5 partner is labeled with its connected component's
    smallest doc_id (the canonical survivor) plus the component size.

    Two-phase CC (r06, replacing the pure propagation loop): phase 1 runs
    a partition-local union-find (mapInPandas, zero shuffle) contracting
    every in-partition component to star edges — ≤ one edge per node, the
    classic MapReduce-CC reduction. Phase 2 finishes the reduced graph:
    one exact single-task union-find when it passes the 5M-edge size guard
    (the common case — the dup graph is tiny relative to the corpus), else
    the proven O(log diameter) min-label + pointer-jump loop, on a graph
    whose per-round shuffles and diameter phase 1 already halved. Against
    r05's loop this removes the seed job and the mandatory
    confirming round (2 multi-stage jobs on converged graphs) — the
    whole CC stage is now 2 short jobs. All label state stays on
    executors; the driver sees one scalar (the guard count).
    Adversarial CHAINS (diameter ≫ the 20-round bound) still converge on
    both phase-2 paths (tests/test_curation_extras.py runs a 60-node
    path through each).

    100 TB: candidate edges come from the capped J21 kernel (swap in J2
    banded-MinHash edges for boilerplate-heavy corpora — the CC stage is
    source-agnostic); phase 1's dict holds one partition's endpoint ids
    only, and the fallback loop's shuffles carry (id, id) pairs only.
    Oracle: recursive-CTE closure, so the fixpoint labels are exactly
    the transitive closure's."""
    from silvia_spark.functions.training_ops import jaccard_pairs

    d = load_table(spark, sf_dir, "documents")
    pairs = jaccard_pairs(d.select("doc_id", "text"), _CC_TAU)
    # two_phase_components output is doc_id-sorted on both finish paths
    # (see its docstring) — re-sorting here cost a redundant global-sort
    # sampling pass that re-ran the finish subtree (r14, guide §2.4).
    return two_phase_components(pairs)


# --- J26: Unicode NFC normalization ------------------------------------------

# Both engines BUILD the same decomposed input (every 'e' in the first 60
# chars gains a combining acute, U+0301), then normalize independently —
# DuckDB through utf8proc, Spark through Python's unicodedata. length() is
# code points in both, so the before/after counts pin the recomposition.
_J26_ORACLE = """
WITH synth AS (
  SELECT doc_id,
         replace(substr(lower(text), 1, 60), 'e', 'e' || chr(769)) AS raw
  FROM documents
)
SELECT doc_id, nfc_normalize(raw) AS nfc_text,
       length(raw) AS n_raw, length(nfc_normalize(raw)) AS n_nfc
FROM synth
ORDER BY doc_id
"""


@contract("text_unicode_normalize", oracle=_J26_ORACLE)
def text_unicode_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NFC normalization over a deliberately decomposed corpus slice:
    combining sequences (e + U+0301) must recompose to precomposed é so
    downstream digests/shingles/fingerprints treat visually identical
    text identically — run this BEFORE J1/J2/J21 on any multilingual
    corpus. The kernel is an Arrow-batched pandas UDF (unicodedata.
    normalize is C-speed per string; no JVM equivalent exists in Spark's
    function library); everything else stays codegen. Zero shuffle — a
    pure map stage that pipelines into whatever consumes it. The n_raw /
    n_nfc code-point counts prove actual recomposition happened (n_nfc <
    n_raw wherever an 'e' existed), not a pass-through."""

    @F.pandas_udf("string")
    def nfc(s: pd.Series) -> pd.Series:
        import unicodedata

        return s.map(lambda x: None if x is None
                     else unicodedata.normalize("NFC", x))

    d = load_table(spark, sf_dir, "documents")
    raw = F.regexp_replace(
        F.substring(F.lower(F.col("text")), 1, 60), "e", "e\u0301")
    return (d.select("doc_id", raw.alias("raw"))
            .select("doc_id", nfc("raw").alias("nfc_text"),
                    F.length("raw").alias("n_raw"))
            .select("doc_id", "nfc_text", "n_raw",
                    F.length("nfc_text").alias("n_nfc"))
            .orderBy("doc_id"))


# --- J27: PII scrubbing ------------------------------------------------------

# Both engines PLANT identical synthetic PII (an email and a phone derived
# from doc_id), then scrub independently with the same patterns. Patterns
# stay inside the Java-regex ∩ RE2 dialect intersection (no backrefs, no
# lookaround) so regexp_replace semantics match across engines.
_PII_EMAIL = "[a-z0-9._]+@[a-z0-9.-]+\\.[a-z]+"
_PII_PHONE = "\\+1-[0-9]{3}-[0-9]{4}"

_J27_ORACLE = f"""
WITH planted AS (
  SELECT doc_id,
         substr(text, 1, 40) || ' contact user' || doc_id ||
         '@example.com or +1-555-' ||
         lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' now' AS raw
  FROM documents
)
SELECT doc_id,
       regexp_replace(regexp_replace(raw, '{_PII_EMAIL}', '<EMAIL>', 'g'),
                      '{_PII_PHONE}', '<PHONE>', 'g') AS scrubbed,
       len(regexp_extract_all(raw, '{_PII_EMAIL}')) AS n_emails,
       len(regexp_extract_all(raw, '{_PII_PHONE}')) AS n_phones
FROM planted
ORDER BY doc_id
"""


@contract("text_pii_scrub", oracle=_J27_ORACLE)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction — the mandatory scrub pass before corpus release:
    emails and phone numbers replaced by typed placeholders, with
    per-doc match counts for the redaction audit trail. The corpus is
    synthetic (no real PII), so each doc plants a deterministic
    doc_id-derived email+phone first; the oracle plants the identical
    string, so the hash check proves the SCRUB, not the plant. Patterns
    are restricted to the Java-regex ∩ RE2 intersection — the dialect
    drift between engines is the real-world hazard here, and the
    contract pins it. Pure per-row codegen (regexp_replace /
    regexp_count are JVM-native): zero shuffle, scan-rate throughput at
    any corpus size."""
    d = load_table(spark, sf_dir, "documents")
    raw = F.concat(
        F.substring("text", 1, 40), F.lit(" contact user"),
        F.col("doc_id").cast("string"), F.lit("@example.com or +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" now"))
    return (d.select("doc_id", raw.alias("raw"))
            .select("doc_id",
                    F.regexp_replace(
                        F.regexp_replace("raw", _PII_EMAIL, "<EMAIL>"),
                        _PII_PHONE, "<PHONE>").alias("scrubbed"),
                    F.regexp_count("raw", F.lit(_PII_EMAIL))
                    .alias("n_emails"),
                    F.regexp_count("raw", F.lit(_PII_PHONE))
                    .alias("n_phones"))
            .orderBy("doc_id"))


# --- J35: near-dup survivor selection (the removal list) ----------------------

# Exact all-pairs near-dup SQL (J2/J13/J21's oracle) extended with the
# keep-best rule: of each pair, remove the doc with fewer chars (tie →
# the larger doc_id, i.e. keep the earlier doc).
_J35_ORACLE = """
WITH s AS (
  SELECT doc_id,
         list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                        for i in generate_series(1, len(w)-2)]) AS sh
  FROM (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents)
), p AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM s a, s b
  WHERE a.doc_id < b.doc_id
    AND len(list_intersect(a.sh, b.sh)) * 1.0
        / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8
), losers AS (
  SELECT DISTINCT CASE WHEN da.n_chars < db.n_chars THEN p.doc_a
                       ELSE p.doc_b END AS doc_id
  FROM p
  JOIN documents da ON p.doc_a = da.doc_id
  JOIN documents db ON p.doc_b = db.doc_id
)
SELECT d.doc_id, d.source, d.n_chars
FROM losers l JOIN documents d ON l.doc_id = d.doc_id
ORDER BY d.doc_id
"""


@contract("dedup_near_keep_best", oracle=_J35_ORACLE)
def dedup_near_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup removal list with keep-BEST survivor selection: for every
    3-word-shingle Jaccard ≥ 0.8 pair, the lower-quality doc (fewer
    chars; tie → larger doc_id) is marked for removal; the output is the
    distinct removal set with its audit columns. This is the step real
    curation runs AFTER pair detection — J21 emits the evidence, this
    contract the decision. 100 TB: pair generation is the sub-quadratic
    inverted-index kernel (training_ops.jaccard_pairs, df-capped); the
    two quality probes and the final audit join are doc_id-keyed
    equi-joins on the (tiny relative to the corpus) pair set; the
    removal DISTINCT shuffles doc_ids only. Applying the removal is the
    caller's anti-join (dedup_docs_embedding's pattern)."""
    from silvia_spark.functions.training_ops import jaccard_pairs

    d = load_table(spark, sf_dir, "documents")
    pairs = jaccard_pairs(d.select("doc_id", "text"), 0.8)
    q = d.select("doc_id", "n_chars")
    j = (pairs
         .join(q.select(F.col("doc_id").alias("doc_a"),
                        F.col("n_chars").alias("ca")), "doc_a")
         .join(q.select(F.col("doc_id").alias("doc_b"),
                        F.col("n_chars").alias("cb")), "doc_b"))
    loser = F.when(F.col("ca") < F.col("cb"), F.col("doc_a")) \
             .otherwise(F.col("doc_b"))
    removed = j.select(loser.alias("doc_id")).distinct()
    return (removed.join(d.select("doc_id", "source", "n_chars"), "doc_id")
            .orderBy("doc_id"))


# --- J41: URL-canonicalization dedup -----------------------------------------

# URLs are planted with the four classic aliasing axes — scheme case, host
# case, query-param order, tracking params, fragment — ten doc_ids per
# canonical target, so the dedup has real work that pure string equality
# would miss. Both engines canonicalize independently (Spark: parse_url +
# higher-order array ops; DuckDB: anchored regex + list ops) and must land
# the identical group table.
_J41_ORACLE = """
WITH u AS (
  SELECT doc_id,
         (CASE WHEN doc_id % 7 = 0 THEN 'HTTPS://' ELSE 'https://' END)
         || (CASE WHEN doc_id % 3 = 0 THEN 'Docs.Example.COM'
                  ELSE 'docs.example.com' END)
         || '/corpus/' || CAST(doc_id // 10 AS VARCHAR)
         || '?' || (CASE WHEN doc_id % 2 = 0
                         THEN 'b=2&a=1&utm_source=feed' ELSE 'a=1&b=2' END)
         || '#sec' || CAST(doc_id % 5 AS VARCHAR) AS url
  FROM documents
), canon AS (
  SELECT doc_id,
         'https://'
         || lower(regexp_extract(url, '^[a-zA-Z]+://([^/]+)', 1))
         || regexp_extract(url, '^[a-zA-Z]+://[^/]+([^?#]*)', 1)
         || '?' || array_to_string(
              list_sort(list_filter(
                string_split(regexp_extract(url, '[?]([^#]*)', 1), '&'),
                x -> NOT starts_with(x, 'utm_'))), '&') AS canonical_url
  FROM u
)
SELECT canonical_url, min(doc_id) AS keep_id,
       count(*) AS n_aliases
FROM canon
GROUP BY canonical_url
ORDER BY keep_id
"""


@contract("dedup_url_canonical", oracle=_J41_ORACLE)
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-canonicalization dedup — the FIRST dedup pass of every web
    crawl, upstream of any content hashing: scheme/host case folding,
    tracking-parameter (utm_*) removal, query-parameter reordering and
    fragment stripping all alias the same resource, and J1's exact text
    hash cannot see it when mirrors serve byte-different boilerplate.
    Emits one row per canonical URL with the surviving doc_id (min) and
    the alias count.

    Canonicalizer stays 100% JVM-side codegen: parse_url components +
    lower() for scheme/host, a higher-order filter over the split query
    dropping utm_* params, sort_array for order independence, fragment
    dropped by never parsing it. One shuffle (the groupBy on the
    canonical string); at 100 TB the canonical key is what you bucket
    the crawl store by, so the groupBy becomes shuffle-free on a
    bucketed layout (L1's pattern). The oracle re-canonicalizes with
    regex + list ops — two independent canonicalizers pinned to one
    group table."""
    d = load_table(spark, sf_dir, "documents")
    url = F.concat(
        F.when(F.col("doc_id") % 7 == 0, F.lit("HTTPS://"))
        .otherwise(F.lit("https://")),
        F.when(F.col("doc_id") % 3 == 0, F.lit("Docs.Example.COM"))
        .otherwise(F.lit("docs.example.com")),
        F.lit("/corpus/"), (F.col("doc_id") / 10).cast("bigint").cast("string"),
        F.lit("?"),
        F.when(F.col("doc_id") % 2 == 0, F.lit("b=2&a=1&utm_source=feed"))
        .otherwise(F.lit("a=1&b=2")),
        F.lit("#sec"), (F.col("doc_id") % 5).cast("string"))
    q = F.parse_url("url", F.lit("QUERY"))
    canq = F.array_join(
        F.sort_array(F.filter(F.split(q, "&"),
                              lambda x: ~x.startswith("utm_"))), "&")
    canonical = F.concat(
        F.lit("https://"),
        F.lower(F.parse_url("url", F.lit("HOST"))),
        F.parse_url("url", F.lit("PATH")),
        F.lit("?"), canq)
    return (
        d.select("doc_id", url.alias("url"))
        .select("doc_id", canonical.alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(F.min("doc_id").alias("keep_id"),
             F.count(F.lit(1)).alias("n_aliases"))
        .orderBy("keep_id")
    )
