"""Bounded LSH bucket pair generation — the monster-bucket skew guard.

Every banded-LSH tier (text/dedup.py:minhash_lsh_pairs, SimHash quarters,
images/neardup.py:phash_near_dup_pairs) generates candidates by self-joining
rows on a bucket key. The self-join is quadratic IN THE BUCKET: a web corpus
at 10^12 rows routinely holds a boilerplate page or a placeholder image
duplicated 10^8 times, and every copy lands in the same bucket in every band
(identical content ⇒ identical signature), so the within-bucket join alone
would emit ~10^16 candidate rows — unrepresentable, and no salting fixes it
(the PAIR COUNT is the problem, not key placement).

``bucket_pairs`` bounds it with star expansion: buckets at or under
``star_threshold`` produce their full within-bucket pair set exactly as the
plain self-join would; larger buckets instead pair every member with the
bucket's MINIMUM id only — O(n) rows instead of O(n²). For the case that
creates monster buckets (equal signatures from equal content) the downstream
result is unchanged: every star pair survives exact verification, and the
transitive closure (operators/components.py:connected_components — how the
dedup ladder consumes pairs) reconnects the full duplicate cluster through
the representative. The trade, documented and bounded to above-threshold
buckets only, is pair-RELATION completeness: a pair (b, c) whose only shared
bucket is oversized is reported only if both verify against the
representative. Pass ``star_threshold=None`` for the exact unbounded join.

One extra map-side-combinable aggregation per band (bucket size + min id)
buys a hard per-bucket bound.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def bucket_pairs(
    banded: DataFrame,
    id_col: str,
    key_cols: list[str],
    star_threshold: int | None = 1024,
    payload_cols: list[str] | None = None,
) -> DataFrame:
    """Unordered candidate pairs ``(id_a, id_b)`` (id_a < id_b) of rows
    sharing a bucket key, with oversized buckets star-expanded.

    ``banded`` holds one row per (member, bucket); ``key_cols`` name the
    bucket key columns. ``payload_cols`` ride along as ``<col>_a``/
    ``<col>_b`` (each must be functionally determined by the id — e.g. the
    member's own hash — or the distinct inflates). Output is distinct
    across buckets (a pair sharing several buckets appears once).
    """
    pay = payload_cols or []

    def side(suffix: str) -> DataFrame:
        return banded.select(
            F.col(id_col).alias(f"id_{suffix}"),
            *[F.col(c).alias(f"{c}_{suffix}") for c in pay],
            *key_cols,
        )

    out_cols = ["id_a", "id_b"] + [f"{c}_{s}" for c in pay for s in ("a", "b")]
    if star_threshold is None:
        return (
            side("a")
            .join(side("b"), key_cols)
            .filter(F.col("id_a") < F.col("id_b"))
            .select(*out_cols)
            .distinct()
        )
    # the guard's marginal cost over the exact join is ONE map-side-
    # combinable aggregation (bucket size + min id) broadcast onto the
    # RIGHT self-join side: a right row survives iff its bucket is small
    # (full pairing) or it IS the bucket's min-id representative (star
    # expansion), so oversized buckets contribute O(n) join matches instead
    # of O(n²) while the plan keeps the exact join's shape — same two side
    # scans, same single pair join, same distinct. Earlier formulations
    # (separate anti-join + star branch + rep-payload broadcast) each
    # measured 2-4× end-to-end at sf0.1: every extra exchange is a
    # serialized AQE job, `min_by`/`min(struct)` stats degrade to
    # SortAggregate (a full Sort of banded per broadcast build), and
    # column pruning gave each broadcast consumer a distinct agg projection
    # so ReuseExchange never fired. Folding the guard into the right side's
    # map chain removes all of that; the rep's payload rides its own row.
    # no broadcast HINT: stats is usually tiny (one row per oversized
    # bucket) and AQE, seeing the post-aggregation size exactly, converts
    # the join to a runtime broadcast — but its cardinality is bounded only
    # by total_rows/star_threshold, so on a corpus where oversized buckets
    # are themselves numerous a forced broadcast would OOM the very run the
    # guard exists to protect; unhinted, that case degrades to a shuffled
    # join instead of failing.
    stats = (
        banded.groupBy(*key_cols)
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.min(id_col).alias("__rep"),
        )
        .filter(F.col("__n") > star_threshold)
    )
    right = (
        banded.join(stats, key_cols, "left")
        .filter(F.col("__n").isNull() | (F.col(id_col) == F.col("__rep")))
        .select(
            F.col(id_col).alias("id_b"),
            *[F.col(c).alias(f"{c}_b") for c in pay],
            F.col("__n").alias("__n_b"),
            *key_cols,
        )
    )
    # small buckets pair once via id_a < id_b (right holds every member);
    # oversized buckets pair each member with the rep (right holds only the
    # rep, the bucket's MIN id, so id_a > id_b there — least/greatest
    # restores the id_a < id_b output convention).
    emit = F.when(F.col("__n_b").isNull(), F.col("id_a") < F.col("id_b")).otherwise(
        F.col("id_a") != F.col("id_b")
    )
    a_first = F.col("id_a") < F.col("id_b")
    return (
        side("a")
        .join(right, key_cols)
        .filter(emit)
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
            *[
                expr.alias(name)
                for c in pay
                for name, expr in (
                    (f"{c}_a", F.when(a_first, F.col(f"{c}_a")).otherwise(F.col(f"{c}_b"))),
                    (f"{c}_b", F.when(a_first, F.col(f"{c}_b")).otherwise(F.col(f"{c}_a"))),
                )
            ],
        )
        .distinct()
    )


def hamming_band_pairs(
    frame: DataFrame,
    id_col: str,
    hash_col: str,
    *,
    bands: int,
    max_hamming: int,
    star_threshold: int | None = 1024,
    collapse_identical: bool = True,
    collapse_eager: bool = True,
) -> DataFrame:
    """``(id_a, id_b, hamming)`` pairs with Hamming(``hash_col``) ≤
    ``max_hamming``, by pigeonhole banding — the shared engine of the
    SimHash text tier (text/dedup.py:simhash_pairs) and the phash image
    tier (images/neardup.py:phash_near_dup_pairs).

    The 64-bit hash splits into ``bands`` equal slices; any pair within
    ``max_hamming`` < ``bands`` agrees exactly on at least one slice, so a
    banded equi-join (one shuffle keyed (band, value)) finds every pair the
    all-pairs product would.

    ``collapse_identical`` (default on) groups identical hash values to one
    min-id representative BEFORE banding and emits the group's members as
    ``(rep, member, hamming=0)`` rows directly. This is the load-bearing
    skew defense at corpus scale: a boilerplate value duplicated 10^8×
    otherwise lands its whole cluster in the same bucket in EVERY band, and
    no per-bucket bound can recover the recall a quadratic join would have.
    Collapsed, it is one row per distinct value — and the collapse is
    hamming-EXACT, not approximate: members of a value group are distance 0
    from their rep, and any cross-group pair has the same distance as its
    reps. The pair-level output changes shape (intra-group pairs arrive as
    rep stars, a g1×g2 cross-group block arrives as one rep-rep pair), but
    the transitive closure — how the dedup ladder consumes pairs
    (operators/components.py) — is identical, which is the same contract
    ``star_threshold`` already documents. Pass ``collapse_identical=False``
    (with ``star_threshold=None``) for the literal all-pairs enumeration.
    Collapsing makes construction EAGER by default: the distinct-value
    frame is localCheckpointed at call time (a Spark job runs before this
    function returns, and its blocks stay pinned in executor storage for
    the session — Spark offers no safe unpersist point inside the returned
    lazy plan) because three downstream consumers would otherwise each
    re-run the scan + groupBy (measured 2.2×). A long-lived session calling
    this per incoming corpus accumulates one pinned frame per call; pass
    ``collapse_eager=False`` there (the ``cache=False`` trade of
    jaccard/minhash/simhash) to keep the collapse fully lazy and unpinned,
    or clear via ``spark.catalog.clearCache()`` between corpora.

    ``star_threshold`` then only ever sees buckets of DISTINCT values,
    whose load is bounded by pigeonhole (≈ n_distinct / 2^(64/bands)), not
    by duplication. If a corpus has so many distinct values that ordinary
    buckets exceed the threshold (≈67M distinct at 16-bit bands), widen the
    slices (fewer ``bands``) or raise the threshold — star expansion there
    trades recall for the bound, bucket by bucket.
    """
    if max_hamming >= bands:
        raise ValueError(
            f"pigeonhole needs bands > max_hamming (got bands={bands}, "
            f"max_hamming={max_hamming}): a pair may otherwise differ in "
            "every band and never become a candidate"
        )
    if 64 % bands:
        raise ValueError(f"bands={bands} must divide 64")
    width = 64 // bands
    base = frame.filter(F.col(hash_col).isNotNull()).select(id_col, hash_col)
    ident = None
    if collapse_identical:
        # eager localCheckpoint: the collapsed frame feeds THREE downstream
        # consumers (both self-join sides + the bucket-stats guard), whose
        # projections differ enough that ReuseExchange never fires — left
        # lazy, each one re-runs the scan + groupBy shuffle (measured 2.2×
        # on the 600k-image bench corpus). Materializing the one-row-per-
        # distinct-value frame once makes the collapse cost a single
        # map-side-combinable aggregation, the same iterative-eager pattern
        # as routing.shortest_paths / components.connected_components.
        groups = base.groupBy(hash_col).agg(
            F.min(id_col).alias("__rep"), F.count(F.lit(1)).alias("__n")
        )
        if collapse_eager:
            groups = groups.localCheckpoint(eager=True)
        # member rows need a join back to their rep, but only values with
        # __n > 1 have members besides the rep — joining against that
        # filtered set (instead of all groups) lets AQE broadcast it when
        # duplication is rare, so the mostly-unique corpus pays ONE
        # map-side-combinable groupBy and never re-shuffles `base`; a
        # duplicate-heavy corpus degrades to a shuffled (skew-splittable)
        # equi-join, which a window-function formulation could not split
        dup_vals = groups.filter(F.col("__n") > 1).select(hash_col, "__rep")
        ident = (
            base.join(dup_vals, hash_col)
            .filter(F.col(id_col) != F.col("__rep"))
            .select(
                F.col("__rep").alias("id_a"),
                F.col(id_col).alias("id_b"),
                F.lit(0).cast("int").alias("hamming"),
            )
        )
        base = groups.select(F.col("__rep").alias(id_col), hash_col)
    if width == 64:
        slices = [F.col(hash_col)]
    else:
        mask = (1 << width) - 1
        # arithmetic shiftright + mask == logical: the mask strips the
        # sign-extended bits
        slices = [
            F.shiftright(F.col(hash_col), q * width).bitwiseAND(F.lit(mask))
            for q in range(bands)
        ]
    band_structs = F.array(
        *[
            F.struct(F.lit(q).alias("b"), s.alias("bv"))
            for q, s in enumerate(slices)
        ]
    )
    banded = base.select(
        id_col, hash_col, F.explode(band_structs).alias("bb")
    ).select(id_col, hash_col, "bb.b", "bb.bv")
    pairs = (
        bucket_pairs(
            banded, id_col, ["b", "bv"], star_threshold,
            payload_cols=[hash_col],
        )
        .withColumn(
            "hamming",
            F.bit_count(
                F.col(f"{hash_col}_a").bitwiseXOR(F.col(f"{hash_col}_b"))
            ),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
    return pairs.unionByName(ident) if ident is not None else pairs
