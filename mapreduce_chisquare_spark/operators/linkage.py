"""Record linkage / entity resolution over dimension tables: blocked
candidate generation + edit-distance matching + connected-component
cluster assignment — the classic Fellegi-Sunter-shaped pipeline
(blocking from the record-linkage literature; Hernandez & Stolfo's
merge/purge) expressed as DataFrame plans. The reference's surface
has no linkage tier (SURVEY.md §2 ends at joins/top-k); a corpus
pipeline needs it wherever documents carry author/site/entity fields
that must be canonicalized before per-entity quotas or dedup keys
make sense.

Cross-engine exactness: the match predicate is Levenshtein distance
on normalized names — integer-valued and implemented natively by BOTH
engines (Spark `levenshtein`, DuckDB `levenshtein`), so the candidate
set and every reported distance are bit-identical. Clustering is the
shared integer min-label propagation (dedup.components_over_pairs).

Scale shape: NEVER all-pairs. Candidates come from blocking through
dedup.bucket_self_join (one hash exchange on the block key), whose
ER_MAX_BLOCK guard excludes oversized blocks — a degenerate block key
(e.g. a null-heavy column) cannot detonate into a quadratic join. At
100 TB the block key is the shuffle key; everything else is
per-block local.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .dedup import bucket_self_join, components_over_pairs, lsh_band_keys
from .spread import spread_for_kernel

# Match predicate: normalized-name Levenshtein <= ER_MAX_EDIT.
ER_MAX_EDIT = 2
# Blocks larger than this are excluded from pair enumeration (the
# MAX_BUCKET discipline): a block of B records costs B(B-1)/2 pairs,
# so the guard caps per-block work at ~500k comparisons.
ER_MAX_BLOCK = 1000


def blocking_pairs(
    records: DataFrame,
    id_col: str,
    name_col: str,
    block_cols: list[str],
    max_edit: int = ER_MAX_EDIT,
    max_block: int = ER_MAX_BLOCK,
    stats: dict | None = None,
) -> DataFrame:
    """Blocked candidate pairs (id_a, id_b, dist): records that share
    the block key, taken as unordered pairs (id_a < id_b), kept when
    the Levenshtein distance between their normalized (lower+trim)
    names is <= max_edit.

    Plan: the records pair through dedup.bucket_self_join on the
    block key (its 2..max_block guard drops singleton and over-cap
    blocks); the distance runs JVM-side (built-in `levenshtein`,
    whole-stage codegen) on block-local pairs only. Empty block_cols
    is an error: one global block would make the candidate join
    all-pairs — exactly what blocking exists to prevent.

    stats, when given, receives {"blocks_skipped": n} — the number of
    over-cap blocks excluded (disclosed truncation, never silent),
    computed by one extra bounded aggregate that only exists when the
    diagnostic is requested.
    """
    pairs = _blocked_name_pairs(
        records, id_col, name_col, block_cols, max_edit, max_block
    )
    if stats is not None:
        stats["blocks_skipped"] = (
            records.groupBy(*block_cols)
            .agg(F.count("*").alias("__bn"))
            .filter(F.col("__bn") > F.lit(int(max_block)))
            .count()
        )
    return pairs.select("id_a", "id_b", "dist")


def _blocked_name_pairs(
    records: DataFrame,
    id_col: str,
    name_col: str,
    block_cols: list,
    max_edit: int,
    max_block: int,
) -> DataFrame:
    """(id_a, id_b, nm_a, nm_b, dist): same-block record pairs whose
    normalized (lower+trim) names are within max_edit edits — the
    candidate relation shared by blocking_pairs and match_scores."""
    r = records.select(
        F.col(id_col).alias("rid"),
        F.lower(F.trim(F.col(name_col))).alias("nm"),
        *[F.col(c).alias(f"b{i}") for i, c in enumerate(block_cols)],
    )
    bkeys = [f"b{i}" for i in range(len(block_cols))]
    dist = F.levenshtein(F.col("nm_a"), F.col("nm_b"))
    return (
        bucket_self_join(r, bkeys, "rid", max_block)
        .filter(dist <= F.lit(int(max_edit)))
        .select(
            F.col("rid_a").alias("id_a"),
            F.col("rid_b").alias("id_b"),
            "nm_a",
            "nm_b",
            dist.cast("long").alias("dist"),
        )
    )


def match_clusters(
    pairs: DataFrame,
    max_iter: int = 20,
    stats: dict | None = None,
    records: DataFrame | None = None,
    id_col: str = "rid",
) -> DataFrame:
    """Entity clusters over the match-pair graph: (entity_id,
    cluster_id) with cluster_id = min reachable id — the survivorship
    key (all records in a cluster canonicalize to its minimum id).
    Same integer min-label propagation as the near-dup tier
    (dedup.components_over_pairs): converges in graph-diameter
    rounds, lineage truncated per round.

    When `records` is given (with its `id_col`), every record absent
    from the pair graph is emitted as its OWN singleton cluster
    (cluster_id = entity_id), so the output is a TOTAL map over the
    input ids — a caller canonicalizing a dimension table can inner-
    join it without silently dropping unmatched entities. Without
    `records`, only ids appearing in >= 1 match pair get a row; the
    caller must left-join and coalesce(cluster_id, id) itself."""
    comp = components_over_pairs(
        pairs.select(
            F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
        ),
        max_iter=max_iter,
        stats=stats,
    )
    out = comp.select(
        F.col("doc_id").alias("entity_id"),
        F.col("component_id").alias("cluster_id"),
    )
    if records is None:
        return out
    singletons = (
        records.select(F.col(id_col).alias("entity_id"))
        .join(out.select("entity_id"), "entity_id", "left_anti")
        .select("entity_id", F.col("entity_id").alias("cluster_id"))
    )
    return out.unionByName(singletons)


def survivorship(
    records: DataFrame,
    clusters: DataFrame,
    id_col: str = "rid",
    name_col: str = "name",
) -> DataFrame:
    """Survivorship / golden-record selection over an entity-cluster
    map (the merge/purge step after matching): per cluster, ONE
    canonical record chosen by a deterministic completeness rule —
    the longest raw name wins (the 'most complete value survives'
    heuristic of the merge/purge literature), ties broken by minimum
    id. Returns (cluster_id, canonical_id, canonical_name,
    n_members).

    Exactness: length is an integer, the tie-break total order is
    (length DESC, id ASC) — no float, no engine-defined tie.

    Scale shape: one join of the record relation against the cluster
    map (both keyed by id — co-partitioned under AQE), then a window
    over cluster-sized partitions (clusters are match-graph
    components: bounded by the blocking guard, never corpus-sized)
    computing the winner and the member count in ONE exchange."""
    j = records.select(
        F.col(id_col).alias("entity_id"),
        F.col(name_col).alias("__nm"),
    ).join(clusters, "entity_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc(F.length("__nm")), F.asc("entity_id")
    )
    wn = Window.partitionBy("cluster_id")
    return (
        j.withColumn("__rn", F.row_number().over(w))
        .withColumn("n_members", F.count("*").over(wn))
        .filter(F.col("__rn") == 1)
        .select(
            "cluster_id",
            F.col("entity_id").alias("canonical_id"),
            F.col("__nm").alias("canonical_name"),
            F.col("n_members").cast("long").alias("n_members"),
        )
    )


def blocking_pairs_multipass(
    records: DataFrame,
    id_col: str,
    name_col: str,
    block_passes: list,
    max_edit: int = ER_MAX_EDIT,
    max_block: int = ER_MAX_BLOCK,
    stats: dict | None = None,
) -> DataFrame:
    """Multi-pass blocking (the merge/purge recall booster): run
    blocking_pairs once per block-key definition and UNION the
    candidate pairs, deduplicated on (id_a, id_b) — a true match
    missed by one pass (e.g. a typo inside pass A's key) is caught by
    any pass whose key survives the error. Returns
    (id_a, id_b, dist, n_passes) with n_passes = how many passes
    proposed the pair (distances agree across passes by
    construction — same normalized names).

    Scale shape: P independent single-pass plans (each its own
    bounded block exchange) + one map-side-combinable (id_a, id_b)
    aggregate to dedupe. stats, when given, receives per-pass skip
    counts under "blocks_skipped_p<i>"."""
    if not block_passes:
        raise ValueError("block_passes must be non-empty")
    outs = []
    for i, bc in enumerate(block_passes):
        st: dict | None = {} if stats is not None else None
        outs.append(
            blocking_pairs(
                records,
                id_col,
                name_col,
                bc,
                max_edit=max_edit,
                max_block=max_block,
                stats=st,
            )
        )
        if stats is not None and st is not None:
            stats[f"blocks_skipped_p{i}"] = st["blocks_skipped"]
    u = outs[0]
    for o in outs[1:]:
        u = u.unionByName(o)
    return u.groupBy("id_a", "id_b").agg(
        F.min("dist").alias("dist"),
        F.count("*").cast("long").alias("n_passes"),
    )


# Fellegi-Sunter-style match scoring: integer milli-point weights so
# the score and the decision are exact in both engines.
ER_SCORE_NAME_PER_EDIT = 300   # (max_edit+1 - dist) * this
ER_SCORE_SUFFIX_BONUS = 100    # last normalized char agrees
ER_THRESH_MATCH = 700
ER_THRESH_POSSIBLE = 400


def match_scores(
    records: DataFrame,
    id_col: str,
    name_col: str,
    block_cols: list,
    max_edit: int = 2,
    max_block: int = ER_MAX_BLOCK,
) -> DataFrame:
    """Candidate-pair match scoring — the Fellegi-Sunter
    agreement-weight step between blocking and clustering: each
    blocked pair gets an integer score from per-field agreement
    (name edit distance banded at ER_SCORE_NAME_PER_EDIT per saved
    edit, plus a last-character agreement bonus), then a three-way
    decision by fixed thresholds: 'match' (>= ER_THRESH_MATCH),
    'possible' (>= ER_THRESH_POSSIBLE — the clerical-review band),
    else 'non_match'. Returns (id_a, id_b, dist, score, decision).

    Everything is integer arithmetic on normalized names, so both
    engines agree exactly — the probabilistic Fellegi-Sunter weights
    are log-likelihood ratios in production; fixed integer weights
    keep the SHAPE (per-field agreement -> summed score -> threshold
    classes) while staying oracle-certifiable.

    Scale shape: the same blocked candidates as blocking_pairs;
    scoring is row-local arithmetic on the pair relation."""
    suffix_eq = F.substring(F.col("nm_a"), -1, 1) == F.substring(
        F.col("nm_b"), -1, 1
    )
    score = (
        (F.lit(int(max_edit) + 1) - F.col("dist"))
        * F.lit(ER_SCORE_NAME_PER_EDIT)
        + F.when(suffix_eq, F.lit(ER_SCORE_SUFFIX_BONUS)).otherwise(F.lit(0))
    ).cast("long")
    decision = (
        F.when(F.col("score") >= F.lit(ER_THRESH_MATCH), F.lit("match"))
        .when(
            F.col("score") >= F.lit(ER_THRESH_POSSIBLE),
            F.lit("possible"),
        )
        .otherwise(F.lit("non_match"))
    )
    return (
        _blocked_name_pairs(
            records, id_col, name_col, block_cols, max_edit, max_block
        )
        .select("id_a", "id_b", "dist", score.alias("score"))
        .withColumn("decision", decision)
    )


def blocking_pairs_lsh(
    records: DataFrame,
    id_col: str,
    name_col: str,
    max_edit: int = ER_MAX_EDIT,
    max_bucket: int = ER_MAX_BLOCK,
) -> DataFrame:
    """LSH-blocked candidate pairs — the third blocking strategy
    beside equality (blocking_pairs) and multipass
    (blocking_pairs_multipass), for the regime where every blocking
    ATTRIBUTE is itself dirty: records band-bucket by MinHash over
    the normalized name's char-3-grams (the dedup.py family — same
    hash constants, so oracles embed identical literals), candidates
    are same-bucket pairs, and the exact Levenshtein predicate
    (<= max_edit) filters, yielding the same (id_a, id_b, dist)
    contract as the equality path.

    Disclosed precondition: LSH blocking presumes NAME ENTROPY —
    serial-number-style names ("Customer#000000123") share nearly
    all grams corpus-wide, every band bucket degenerates, and the
    bucket guard would excise everything; such keys belong to the
    equality/multipass strategies. Buckets pair through
    dedup.bucket_self_join, whose max_bucket excision is the disclosed
    truncation of the dedup.py LSH contract.

    Scale shape: one gram explode + one hash-agg for the band keys
    (map-side combinable mins), band relation carries the normalized
    name so the distance filter needs NO join back; pair work bounded
    by sum(bucket^2) <= n_buckets * max_bucket^2. The distance runs
    JVM-side (whole-stage codegen levenshtein) on bucket-local pairs
    only."""
    # parallelism floor before the gram explode + k-hash aggregate
    # (operators/spread.py — no-op at cluster scale)
    r = spread_for_kernel(
        records.select(
            F.col(id_col).alias("doc_id"),
            F.lower(F.trim(F.col(name_col))).alias("nm"),
        ),
        "doc_id",
    )
    grams = r.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.when(
                    F.length("nm") >= 3,
                    F.expr(
                        "transform(sequence(1, length(nm) - 2), "
                        "i -> substring(nm, i, 3))"
                    ),
                ).otherwise(F.array().cast("array<string>"))
            )
        ).alias("shingle"),
    )
    bands = lsh_band_keys(grams).join(r, "doc_id")
    dist = F.levenshtein(F.col("nm_a"), F.col("nm_b"))
    return (
        bucket_self_join(bands, ["band", "key"], "doc_id", max_bucket)
        .select(
            F.col("doc_id_a").alias("id_a"),
            F.col("doc_id_b").alias("id_b"),
            "nm_a",
            "nm_b",
        )
        .distinct()
        .filter(dist <= F.lit(int(max_edit)))
        .select("id_a", "id_b", dist.cast("long").alias("dist"))
    )


SN_WINDOW = 12


def sorted_neighborhood_pairs(
    records: DataFrame,
    id_col: str,
    name_col: str,
    coarse_start: int,
    coarse_len: int,
    window: int = SN_WINDOW,
) -> DataFrame:
    """Sorted-neighborhood blocking (Hernández & Stolfo 1995): order
    records by (normalized name, id) and pair each record with its
    `window - 1` successors — the classic complement to equality
    blocking: a typo in the BLOCK KEY itself defeats equality blocks,
    but the sorted order still places the pair adjacently while they
    share a key prefix. Returns (id_a, id_b, gap, dist) for every
    window pair: gap = rank distance (1..window-1), dist =
    Levenshtein between the normalized names; id_a is the earlier
    record in sort order.

    Scale shape — global adjacency WITHOUT a global window: the total
    order materializes as global position = coarse-bucket offset +
    in-bucket rank (the two-level machinery of
    quantile_bucketize_scalable / ks_two_sample). The coarse key is
    substring(normalized_name, coarse_start, coarse_len) and MUST be
    order-consistent with the sort (a prefix coarsening — documented
    precondition); the only unpartitioned window runs over the
    coarse-bucket relation (bounded by the key-prefix domain), the
    per-record rank partitions by bucket, and neighbor pairing is ONE
    equi-join on the position key (left side explodes delta
    1..window-1) — no single-partition sort anywhere. window < 2
    raises (no successor to pair with)."""
    if window < 2:
        raise ValueError(f"window must be >= 2, got {window}")
    nm = F.lower(F.trim(F.col(name_col)))
    base = records.select(
        F.col(id_col).alias("__id"),
        nm.alias("__nm"),
        F.substring(nm, coarse_start, coarse_len).alias("__ck"),
    )
    bucket = base.groupBy("__ck").agg(F.count("*").alias("__bn"))
    wb = Window.orderBy("__ck").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    boff = bucket.select(
        "__ck", (F.sum("__bn").over(wb) - F.col("__bn")).alias("__off")
    )
    wi = Window.partitionBy("__ck").orderBy("__nm", "__id")
    pos = base.join(boff, "__ck").select(
        "__id",
        "__nm",
        (F.col("__off") + F.row_number().over(wi)).cast("long").alias("__p"),
    )
    left = pos.select(
        "__id",
        "__nm",
        "__p",
        F.explode(
            F.array(*[F.lit(d) for d in range(1, window)])
        ).alias("gap"),
    ).withColumn("__pp", F.col("__p") + F.col("gap"))
    right = pos.select(
        F.col("__p").alias("__pp"),
        F.col("__id").alias("__idb"),
        F.col("__nm").alias("__nmb"),
    )
    return left.join(right, "__pp").select(
        F.col("__id").alias("id_a"),
        F.col("__idb").alias("id_b"),
        F.col("gap").cast("int").alias("gap"),
        F.levenshtein(F.col("__nm"), F.col("__nmb"))
        .cast("int")
        .alias("dist"),
    )
