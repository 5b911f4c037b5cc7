"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup (BASELINE.json north_star).

All are DataFrame programs over built-in functions (xxhash64, md5,
higher-order array ops) — no Python UDFs — and all are deterministic
given the seed, which the oracle harness requires (SURVEY.md §4.3).

Scale design (100 TB): every algorithm is candidate-generation by
*equi-join on a computed key* (fingerprint, LSH band hash, simhash
chunk, shingle hash, projection bucket) followed by within-bucket
verification. Equi-joins are Catalyst's home turf: shuffle on the key,
AQE handles skew, no driver-side state. Nothing collects to the driver.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F

from ._bcast import bcast_fits
from .text import TOKEN_SPLIT_RE, fingerprint, shingles


# ---------------------------------------------------------------------------
# exact dedup


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep one row (min id) per normalized-text fingerprint.
    One shuffle on the 128-bit fingerprint; skew-free by construction."""
    fp = fingerprint(df, text_col, "__fp")
    keep = fp.groupBy("__fp").agg(F.min(id_col).alias(id_col)).drop("__fp")
    return df.join(keep, on=id_col, how="left_semi")


def exact_dup_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Fingerprint groups with >1 member: (fingerprint, n_dups, keep_id)."""
    fp = fingerprint(df, text_col, "fingerprint")
    return (
        fp.groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("n_dups"), F.min(id_col).alias("keep_id"))
        .filter(F.col("n_dups") > 1)
    )


def paragraph_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n\n",
) -> DataFrame:
    """Paragraph-granular exact dedup: split every document on `sep`,
    keep only the globally FIRST occurrence of each distinct paragraph
    (first = lexicographically smallest `(doc_id, position)`), and
    reassemble the surviving paragraphs per document in their original
    order. Returns `(id_col, text (reassembled), n_paras, n_dropped)`;
    documents whose every paragraph was seen earlier come back with
    empty text (callers filter on `n_paras > n_dropped` to drop them).

    This is the paragraph-level analog of :func:`exact_dedup` — the
    standard weapon against boilerplate (headers, footers, license
    blocks) that repeats across documents a doc-level fingerprint can
    never catch.

    Scale: the dedup decision shuffles SKINNY rows only — (md5 of the
    paragraph, doc_id, pos) — one groupBy on the 128-bit digest
    (skew-free by construction: identical boilerplate collapses to ONE
    min-struct row in the partial aggregate, so a paragraph repeated a
    billion times costs its occurrence rows map-side, not reduce-side).
    Winners join back against the exploded paragraphs by (doc_id, pos)
    and reassembly is one groupBy(doc_id) with an in-row
    sort_array — no window over the raw corpus, no paragraph text in
    the decision shuffle.
    """
    # Spark's split() takes a Java regex — \Q...\E quotes the separator
    # so metacharacter-bearing seps ("." , "||") split literally.
    paras = df.select(
        F.col(id_col).alias("__id"),
        F.posexplode(
            F.split(F.col(text_col), "\\Q" + sep + "\\E", -1)
        ).alias("__pos", "__para"),
    )
    occ = paras.select(
        "__id", "__pos", F.md5(F.col("__para")).alias("__fp")
    )
    winners = occ.groupBy("__fp").agg(
        F.min(F.struct("__id", "__pos")).alias("__w")
    ).select(F.col("__w.__id").alias("__id"), F.col("__w.__pos").alias("__pos"))
    kept = paras.join(winners, on=["__id", "__pos"], how="left_semi")
    n_all = occ.groupBy("__id").agg(F.count(F.lit(1)).alias("n_paras"))
    out = (
        kept.groupBy("__id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("__pos", "__para"))
            ).alias("__ps")
        )
        .select(
            "__id",
            F.array_join(
                F.transform(F.col("__ps"), lambda s: s["__para"]), sep
            ).alias("text"),
            F.size("__ps").alias("__n_kept"),
        )
    )
    return (
        n_all.join(out, on="__id", how="left")
        .select(
            F.col("__id").alias(id_col),
            F.coalesce(F.col("text"), F.lit("")).alias("text"),
            F.col("n_paras"),
            (F.col("n_paras") - F.coalesce(F.col("__n_kept"), F.lit(0)))
            .cast("int")
            .alias("n_dropped"),
        )
    )


# ---------------------------------------------------------------------------
# MinHash + LSH near-dup


def _spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition to the session's parallelism before
    CPU-heavy per-row work (shingling, hashing): a small-but-dense input
    often arrives as ONE file partition, which would serialize the whole
    stage on one core. The extra shuffle moves only the skinny input
    rows, not the exploded intermediate."""
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
    return df.repartition(n)


def _hash64(col, salt: int, hash_fn: str = "xxhash64") -> Column:
    """Salted 64-bit hash Column. ``xxhash64`` (default) is the scale
    path — JVM-native, vectorized. ``md5long`` (60-bit, top 15 hex chars
    of md5 parsed base-16) is slower but bit-reproducible in DuckDB,
    which makes LSH pipelines oracle-checkable end-to-end."""
    c = F.col(col) if isinstance(col, str) else col
    if hash_fn == "xxhash64":
        return F.xxhash64(c, F.lit(salt))
    if hash_fn == "md5long":
        salted = F.concat(c.cast("string"), F.lit(f"#{salt}"))
        return F.conv(F.substring(F.md5(salted), 1, 15), 16, 10).cast("long")
    raise ValueError(f"unknown hash_fn: {hash_fn}")


def md5long_sql(expr: str, salt: int) -> str:
    """DuckDB SQL mirroring :func:`_hash64` with ``hash_fn='md5long'``."""
    return f"('0x' || substr(md5(({expr}) || '#{salt}'), 1, 15))::BIGINT"


#: modulus for the affine hash family (2^61 - 1, Mersenne prime)
AFFINE_M = (1 << 61) - 1
_AFFINE_LO_MASK = (1 << 30) - 1


def affine_consts(n: int, seed: int):
    """n deterministic (c1, c2, c3) triples for the affine hash family,
    derived from the seed via md5 — identical constants are embedded in
    the Spark expressions and the DuckDB oracle SQL. c1/c2 are kept
    below 2^31 so (b>>30)*c1 + (b&mask)*c2 + c3 < 2^63: no 64-bit
    overflow in either engine (DuckDB errors on BIGINT overflow)."""
    import hashlib as _hl

    out = []
    for j in range(n):
        h = _hl.md5(f"simba-affine:{seed}:{j}".encode()).hexdigest()
        c1 = (int(h[0:8], 16) & 0x7FFFFFFF) | 1
        c2 = (int(h[8:16], 16) & 0x7FFFFFFF) | 1
        c3 = int(h[16:24], 16)
        out.append((c1, c2, c3))
    return out


def _affine_col(b: Column, c1: int, c2: int, c3: int) -> Column:
    """h(b) = ((b>>30)*c1 + (b&mask)*c2 + c3) mod (2^61-1) — derives a
    fresh 61-bit hash from one 60-bit base hash with four integer ops
    (universal-hashing style), so a MinHash family needs ONE expensive
    base hash per shingle instead of num_hashes salted ones."""
    hi = F.shiftright(b, 30)
    lo = b.bitwiseAND(F.lit(_AFFINE_LO_MASK))
    return (hi * F.lit(c1) + lo * F.lit(c2) + F.lit(c3)) % F.lit(AFFINE_M)


def affine_sql(expr: str, c1: int, c2: int, c3: int) -> str:
    """DuckDB SQL mirror of :func:`_affine_col`."""
    return (
        f"((({expr}) >> 30) * {c1} + (({expr}) & {_AFFINE_LO_MASK}) * {c2} "
        f"+ {c3}) % {AFFINE_M}"
    )


def minhash_signature(
    col, num_hashes: int = 32, shingle_k: int = 5, seed: int = 42,
    hash_fn: str = "xxhash64",
) -> Column:
    """Array of `num_hashes` minhash values over word shingles.

    Same derivation as :func:`minhash_lsh_pairs`: ONE base hash per
    shingle (xxhash64 masked to 60 bits, or md5long) then `num_hashes`
    affine-family transforms h_j(b) = (c1_j*(b>>30) + c2_j*(b&mask) +
    c3_j) mod (2^61-1); signature_j = min_s h_j(base(s)). Signatures
    produced here are therefore directly comparable with (and reproduce)
    the pairs path for the same (hash_fn, seed). Documents with shingle
    sets of Jaccard J agree on each coordinate with probability J
    (classic MinHash estimator, Broder 1997)."""
    sh = shingles(col, shingle_k)
    if hash_fn == "xxhash64":
        base_of = lambda s: F.xxhash64(s, F.lit(seed)).bitwiseAND(  # noqa: E731
            F.lit((1 << 60) - 1)
        )
    else:
        base_of = lambda s: _hash64(s, seed, hash_fn)  # noqa: E731
    bases = F.transform(sh, base_of)
    consts = affine_consts(num_hashes, seed)
    mins = [
        F.coalesce(
            F.array_min(F.transform(bases, lambda b: _affine_col(b, *consts[j]))),
            F.lit(0).cast("long"),
        )
        for j in range(num_hashes)
    ]
    return F.array(*mins)


def _band_rows(sh_df: DataFrame, num_hashes: int, bands: int,
               seed: int, hash_fn: str) -> DataFrame:
    """(__id, __band, __bh) LSH band rows from a (__id, __sh
    shingle-array) frame.

    Signature via explode + groupBy min: ONE pass over the exploded
    shingles computing all num_hashes mins as plain aggregates — keeps
    every expression small (codegen-friendly), unlike num_hashes nested
    array transforms which overflow the 64KB JIT method limit and fall
    back to interpreted eval. The min-aggregates and band-hashes are
    built as SQL strings (one F.expr py4j call each): per-Column loops
    cost ~1 s of DRIVER time per query in py4j round-trips alone.

    md5long: one md5 per shingle, num_hashes cheap affine derivations
    (32× fewer md5 calls than salting the md5 per hash function).
    xxhash64: same 1-base-hash + affine-family trick; the base is
    masked to 60 bits so every affine product stays < 2^63 (ANSI mode
    errors on overflow rather than wrapping)."""
    r = num_hashes // bands
    ex = sh_df.select("__id", F.explode_outer("__sh").alias("__s"))
    if hash_fn == "md5long":
        ex = ex.withColumn("__b", _hash64(F.col("__s"), seed, "md5long"))
    else:
        ex = ex.withColumn(
            "__b", F.expr(f"xxhash64(__s, {seed}) & {(1 << 60) - 1}"))
    consts = affine_consts(num_hashes, seed)
    min_exprs = [
        F.expr(
            "coalesce(min(((__b >> 30) * {c1} + (__b & {m}) * {c2} + {c3})"
            " % {M}), CAST(0 AS BIGINT))".format(
                c1=consts[j][0], c2=consts[j][1], c3=consts[j][2],
                m=_AFFINE_LO_MASK, M=AFFINE_M,
            )
        ).alias(f"__m{j}")
        for j in range(num_hashes)
    ]
    sig_df = ex.groupBy("__id").agg(*min_exprs)

    def _band_sql(b: int) -> str:
        cw = "concat_ws(',', {})".format(
            ", ".join(f"CAST(__m{b * r + i} AS STRING)" for i in range(r))
        )
        if hash_fn == "md5long":
            return (
                f"CAST(conv(substring(md5(concat({cw}, '#{b}')), 1, 15), 16, 10)"
                " AS BIGINT)"
            )
        return f"xxhash64({cw}, {b})"

    band_cols = [F.expr(_band_sql(b)).alias("__bh") for b in range(bands)]
    return sig_df.select(
        "__id", F.posexplode(F.array(*band_cols)).alias("__band", "__bh")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 5,
    seed: int = 42,
    jaccard_threshold: Optional[float] = None,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Candidate near-duplicate pairs via banded MinHash LSH, optionally
    verified with exact shingle-set Jaccard.

    rows_per_band = num_hashes / bands; two docs collide in a band iff
    all its rows match ⇒ P(candidate) = 1 - (1 - J^r)^b — the standard
    S-curve. Returns (a_id, b_id, jaccard) with a_id < b_id.
    ``hash_fn='md5long'`` makes the whole pipeline reproducible in a
    DuckDB oracle (see :func:`md5long_sql`); default xxhash64 is the
    faster scale path.
    """
    assert num_hashes % bands == 0, "bands must divide num_hashes"
    sh_df = _spread(df).select(
        F.col(id_col).alias("__id"),
        shingles(text_col, shingle_k).alias("__sh"),
    )
    # band self-join on SKINNY rows (id, band, bandhash) only — shingle
    # arrays never enter the candidate shuffle; they're fetched by id for
    # the (few) surviving pairs. At scale the band join is the big
    # shuffle, so its row width decides the job's IO.
    bands_skinny = _band_rows(sh_df, num_hashes, bands, seed, hash_fn)
    left = bands_skinny.select(F.col("__id").alias("a_id"), "__band", "__bh")
    right = bands_skinny.select(F.col("__id").alias("b_id"), "__band", "__bh")
    cand = (
        left.join(right, on=["__band", "__bh"], how="inner")
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .dropDuplicates(["a_id", "b_id"])
    )
    # exact-Jaccard verification: fetch each side's shingle array by id
    sha = sh_df.select(F.col("__id").alias("a_id"), F.col("__sh").alias("__sha"))
    shb = sh_df.select(F.col("__id").alias("b_id"), F.col("__sh").alias("__shb"))
    pairs = cand.join(sha, on="a_id").join(shb, on="b_id")
    inter = F.size(F.array_intersect(F.col("__sha"), F.col("__shb")))
    union = F.size(F.array_union(F.col("__sha"), F.col("__shb")))
    out = pairs.withColumn(
        "jaccard",
        F.when(union > 0, inter.cast("double") / union).otherwise(F.lit(0.0)),
    ).select("a_id", "b_id", "jaccard")
    if jaccard_threshold is not None:
        out = out.filter(F.col("jaccard") >= float(jaccard_threshold))
    return out


def connected_components(
    pairs: DataFrame,
    a_col: str = "a_id",
    b_col: str = "b_id",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components over an undirected pair list — exact
    transitive closure of near-duplicate clusters. Returns
    (id, component) where component = min id reachable.

    Algorithm: distributed min-label propagation with **pointer
    doubling** — each round a node takes the min of (its label, its
    neighbors' labels, its label's label). The label-of-label hop halves
    the remaining chain length, so convergence is O(log diameter) rounds
    (a 1M-node duplicate chain converges in ~20 rounds, not 1M) —
    the standard large-graph CC recipe (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14).

    Scale design: each round is ONE SQL statement over the previous
    round's checkpoint, and the labels side is broadcast whenever the
    node count (one driver scalar, observed on round 0's checkpoint
    job) fits :func:`._bcast.bcast_fits`:

    - the edge list is symmetrised from ONE scan of ``pairs`` and
      deduplicated behind one hash(dst) exchange;
    - round 0 is one aggregate over the edges (every id starts as its
      own label), so no label frame is built before it;
    - one union+aggregate per later round: neighbor messages (edges ⋈
      labels) union an own row carrying the previous label, so
      min(__cand) is least(old, min over neighbors) and max(__prev) is
      the old label — one exchange, no message-then-join pattern;
    - the label-of-label lookup joins the same labels side (under the
      hint, the same broadcast);
    - no round repartitions its output: the aggregate already leaves it
      hash(id), and a checkpoint scan does not carry its partitioning
      into the next round's plan (without the hint, the edge scan is
      re-exchanged by dst every round);
    - the convergence signal is a ``__chg`` flag computed in the label
      update and summed by an observed metric of the round's eager
      checkpoint job: no separate probe job.

    Labels are localCheckpoint'd each round to truncate lineage; no
    adjacency ever collects. The rounds run when the DataFrame is
    built, not in the caller's action: under the hint a round is three
    jobs (the labels broadcast, the aggregate's shuffle, the
    checkpoint).

    Raises RuntimeError if max_iter rounds pass without convergence —
    silently returning partial labels would mislabel clusters.
    """
    spark = pairs.sparkSession
    # symmetric edge list from one scan of pairs: repartitioning by dst
    # BEFORE the dedup lets hash(dst) clustering serve the (src, dst)
    # aggregate too, so the dedup adds no second exchange
    edges = spark.sql(
        f"""SELECT DISTINCT src, dst FROM (
  SELECT inline(array(struct(`{a_col}` AS src, `{b_col}` AS dst),
                      struct(`{b_col}` AS src, `{a_col}` AS dst)))
  FROM {{pairs}} DISTRIBUTE BY dst)""",
        pairs=pairs,
    ).localCheckpoint(eager=False)
    # round 0 needs no labels: every id is its own label, so its new
    # label is least(id, min neighbor id), one aggregate over the edges.
    # Its eager checkpoint also materializes the edges before round 1's
    # reads, and its observed row count is the node count the broadcast
    # guard needs.
    obs = Observation()
    labels = spark.sql(
        """SELECT id, component, CAST(component <> id AS BIGINT) AS __chg
FROM (SELECT src AS id, least(src, min(dst)) AS component
      FROM {edges} GROUP BY src)""",
        edges=edges,
    ).observe(obs, F.expr("count(*)").alias("n"),
              F.expr("sum(__chg)").alias("chg")).localCheckpoint(eager=True)
    n, changed = obs.get["n"], obs.get["chg"] or 0
    hint = "/*+ BROADCAST(l) */ " if bcast_fits(n) else ""
    for _ in range(1, int(max_iter)):
        if changed == 0:
            break
        # one union+aggregate, then pointer doubling: component <-
        # label(component) halves the remaining chain each round =>
        # O(log diameter) total rounds. The convergence probe rides on
        # the checkpoint job: an observed sum of __chg, read after the
        # eager checkpoint has run (the next round reads the labels
        # three times, so eager also keeps them from racing to
        # materialize).
        obs = Observation()
        labels = spark.sql(
            f"""WITH base AS (
  SELECT id, min(__cand) AS __c1, max(__prev) AS __old FROM (
    SELECT {hint}e.src AS id, l.component AS __cand, NULL AS __prev
    FROM {{edges}} e JOIN {{labels}} l ON e.dst = l.id
    UNION ALL SELECT id, component, component FROM {{labels}}
  ) GROUP BY id
)
SELECT id, component, CAST(component <> __old AS BIGINT) AS __chg
FROM (SELECT {hint}b.id, b.__old,
             least(b.__c1, coalesce(l.component, b.__c1)) AS component
      FROM base b LEFT JOIN {{labels}} l ON b.__c1 = l.id)""",
            edges=edges, labels=labels,
        ).observe(obs, F.expr("sum(__chg)").alias("chg")
                  ).localCheckpoint(eager=True)
        changed = obs.get["chg"] or 0
    if changed != 0:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            f"({changed} labels still changing) — raise max_iter"
        )
    return spark.sql("SELECT id, component FROM {labels}", labels=labels)


def dedup_by_components(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "a_id",
    b_col: str = "b_id",
) -> DataFrame:
    """Exact cluster dedup: keep the min-id representative of every
    connected near-dup cluster (transitively closed — unlike the
    one-sweep policy, a chain a~b~c keeps only a)."""
    comp = connected_components(pairs, a_col, b_col)
    drop = comp.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias(id_col)
    )
    return df.join(drop, on=id_col, how="left_anti")


def dedup_resolve(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    score_col: Optional[str] = None,
    a_col: str = "a_id",
    b_col: str = "b_id",
) -> DataFrame:
    """Canonical-representative dedup: transitively close the near-dup
    `pairs` into clusters (:func:`connected_components`) and keep ONE
    member per cluster — the highest-`score_col` row (ties → min id),
    or the min-id row when `score_col` is None (then this equals
    :func:`dedup_by_components`). Rows in no cluster pass through.

    This is the production ending of a near-dedup pipeline: rather than
    "keep the lowest id" (arbitrary), keep the best copy by an explicit
    quality signal (e.g. :func:`simba_spark.operators.text.quality_score`
    output) so dedup never downgrades the corpus.

    Scale: component labels come from pointer-doubling CC (O(log
    diameter) rounds); the representative choice is ONE per-component
    window over only the clustered rows (cluster sizes are dedup
    clusters — bounded by duplication, not corpus size); the final
    anti-join removes losers by id. No driver state beyond CC's
    convergence counter.
    """
    comp = connected_components(pairs, a_col, b_col)
    members = df.join(
        comp.select(F.col("id").alias(id_col), "component"), on=id_col, how="inner"
    )
    order = (
        [F.col(score_col).desc(), F.col(id_col).asc()]
        if score_col is not None
        else [F.col(id_col).asc()]
    )
    w = Window.partitionBy("component").orderBy(*order)
    losers = (
        members.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") > 1)
        .select(id_col)
    )
    return df.join(losers, on=id_col, how="left_anti")


def minhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    jaccard_threshold: float = 0.8,
    **kw,
) -> DataFrame:
    """Drop near-duplicates: greedy keep-lowest-id using LSH pairs.
    Single-link transitive closure is approximated by one pass
    (drop any doc that has a smaller near-identical sibling) — the
    standard one-sweep policy for pretraining dedup."""
    pairs = minhash_lsh_pairs(
        df, text_col, id_col, jaccard_threshold=jaccard_threshold, **kw
    )
    drop_ids = pairs.select(F.col("b_id").alias(id_col)).distinct()
    return df.join(drop_ids, on=id_col, how="left_anti")


def minhash_band_table(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 5,
    seed: int = 42,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """The persistable LSH register of a corpus: skinny
    ``(id, __band, __bh)`` rows (``bands`` rows per document, 3 longs
    wide). Write it once per corpus / append one increment's rows per
    day — :func:`incremental_minhash_dedup` probes it WITHOUT
    re-shingling the corpus. EXACTLY :func:`minhash_lsh_pairs`'s band
    rows (the shared :func:`_band_rows` program — explode + groupBy
    min signatures, codegen-friendly), so rows from different batches
    with the same (num_hashes, bands, shingle_k, seed, hash_fn) are
    directly joinable."""
    if num_hashes % bands:
        raise ValueError("bands must divide num_hashes")
    sh_df = _spread(df).select(
        F.col(id_col).alias("__id"),
        shingles(F.col(text_col), shingle_k).alias("__sh"),
    )
    return _band_rows(sh_df, num_hashes, bands, seed, hash_fn) \
        .withColumnRenamed("__id", id_col)


def incremental_minhash_dedup(
    new_df: DataFrame,
    corpus_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    jaccard_threshold: float = 0.8,
    corpus_bands: Optional[DataFrame] = None,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 5,
    seed: int = 42,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Near-dup dedup of an INCREMENT against an existing corpus — the
    daily-crawl shape: yesterday's corpus is already deduped and must
    not be re-scanned, today's batch must drop (a) docs that near-dup
    the corpus and (b) the one-sweep within-batch dups (keep the
    smallest id, :func:`minhash_dedup` policy). Returns the kept rows
    of ``new_df``. Ids must be unique across corpus ∪ increment.

    Scale design:
    - pass ``corpus_bands`` (the persisted :func:`minhash_band_table`
      parquet) and the corpus is never re-shingled — the probe joins
      the increment's ``bands``·|new| skinny rows against the register
      on (band, hash); omitted, the register is derived from
      ``corpus_df`` in one pass (and is worth persisting).
    - corpus TEXT is touched only for cross-candidate ids: a semi-join
      on the candidate id list precedes the corpus-side shingling, so
      the exact-Jaccard verify reads |candidates| corpus rows, not the
      corpus.
    - the within-batch leg is the standard banded self-join over the
      increment's own skinny rows.
    """
    kw = dict(num_hashes=num_hashes, bands=bands, shingle_k=shingle_k,
              seed=seed, hash_fn=hash_fn)
    new_sh = _spread(new_df).select(
        F.col(id_col).alias("__nid"),
        shingles(F.col(text_col), shingle_k).alias("__nsh"),
    ).localCheckpoint(eager=False)
    nb = minhash_band_table(new_df, text_col, id_col, **kw).select(
        F.col(id_col).alias("__nid"), "__band", "__bh")
    cb = corpus_bands if corpus_bands is not None else \
        minhash_band_table(corpus_df, text_col, id_col, **kw)
    cb = cb.select(F.col(id_col).alias("__cid"), "__band", "__bh")

    # leg 1: increment × corpus candidates → verify → drop new ids
    cross = (
        nb.join(cb, on=["__band", "__bh"], how="inner")
        .select("__nid", "__cid").dropDuplicates(["__nid", "__cid"])
    )
    cand_corpus = corpus_df.join(
        cross.select(F.col("__cid").alias(id_col)).distinct(),
        on=id_col, how="left_semi")
    csh = cand_corpus.select(
        F.col(id_col).alias("__cid"),
        shingles(F.col(text_col), shingle_k).alias("__csh"))
    vx = cross.join(new_sh, on="__nid").join(csh, on="__cid")
    inter = F.size(F.array_intersect(F.col("__nsh"), F.col("__csh")))
    union = F.size(F.array_union(F.col("__nsh"), F.col("__csh")))
    jac = F.when(union > 0, inter.cast("double") / union) \
        .otherwise(F.lit(0.0))
    drop_cross = vx.filter(jac >= float(jaccard_threshold)) \
        .select("__nid").distinct()

    # leg 2: within-increment one-sweep (drop the larger id of each
    # verified pair — minhash_dedup's keep-lowest policy)
    l = nb.select(F.col("__nid").alias("__a"), "__band", "__bh")
    rgt = nb.select(F.col("__nid").alias("__b"), "__band", "__bh")
    within = (
        l.join(rgt, on=["__band", "__bh"], how="inner")
        .filter(F.col("__a") < F.col("__b"))
        .select("__a", "__b").dropDuplicates(["__a", "__b"])
    )
    sha = new_sh.select(F.col("__nid").alias("__a"),
                        F.col("__nsh").alias("__sha"))
    shb = new_sh.select(F.col("__nid").alias("__b"),
                        F.col("__nsh").alias("__shb"))
    vw = within.join(sha, on="__a").join(shb, on="__b")
    winter = F.size(F.array_intersect(F.col("__sha"), F.col("__shb")))
    wunion = F.size(F.array_union(F.col("__sha"), F.col("__shb")))
    wjac = F.when(wunion > 0, winter.cast("double") / wunion) \
        .otherwise(F.lit(0.0))
    drop_within = vw.filter(wjac >= float(jaccard_threshold)) \
        .select(F.col("__b").alias("__nid")).distinct()

    drops = drop_cross.unionByName(drop_within).distinct() \
        .select(F.col("__nid").alias(id_col))
    return new_df.join(drops, on=id_col, how="left_anti")


# ---------------------------------------------------------------------------
# n-gram Jaccard similarity join (exact, shingle-hash blocked)


def ngram_jaccard_join(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    jaccard_threshold: float = 0.5,
    prefix_filter: bool = True,
) -> DataFrame:
    """Exact Jaccard >= t pairs, shingle-blocked with **prefix filtering**.

    Candidate generation joins docs on shared shingles, but only on each
    doc's *prefix*: its ``|set| - ceil(t·|set|) + 1`` rarest shingles
    under a global (document-frequency asc, hash asc) order. Standard
    prefix-filtering theorem (SSJoin/PPJoin): any pair with J >= t must
    share a shingle inside both prefixes, so no qualifying pair is lost —
    while a stop-phrase shingle shared by n docs no longer yields n²
    candidate rows unless it lands in prefixes (it is common ⇒ ranked
    last ⇒ it doesn't). This bounds the hot-key skew of the naive
    any-shared-shingle join.

    Verification is exact string-set Jaccard (array_intersect on the
    distinct shingle arrays, fetched by id for surviving pairs only) —
    no dependence on hash non-collision.
    """
    t = float(jaccard_threshold)
    # checkpoint the shingle frame: it feeds three separate subtrees
    # (the skinny exploded join side + both verification array fetches),
    # and without a checkpoint each subtree re-runs the CPU-heavy
    # shingling of every document (profiled as 3 duplicate single-digit-
    # second stages per query at sf0.1)
    base = _spread(df).select(
        F.col(id_col).alias("__id"),
        F.array_distinct(shingles(text_col, shingle_k)).alias("__sh"),
    ).localCheckpoint(eager=False)  # r12: multi-ref first materialization (see louvain lesson)
    # SKINNY exploded view: (id, |set|, shingle hash) — arrays never
    # enter the candidate shuffle
    ex = base.select(
        "__id",
        F.size("__sh").alias("__n"),
        F.explode(F.col("__sh")).alias("__s"),
    ).select("__id", "__n", F.xxhash64("__s").alias("__sh_hash"))

    if prefix_filter and t > 0.0:
        dfreq = ex.groupBy("__sh_hash").agg(F.count(F.lit(1)).alias("__df"))
        w = Window.partitionBy("__id").orderBy(
            F.col("__df").asc(), F.col("__sh_hash").asc()
        )
        plen = F.col("__n") - F.ceil(F.lit(t) * F.col("__n")).cast("long") + F.lit(1)
        join_side = (
            ex.join(dfreq, on="__sh_hash")
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= plen)
            .select("__id", "__sh_hash")
        )
    else:
        join_side = ex.select("__id", "__sh_hash")

    l = join_side.select(F.col("__id").alias("a_id"), "__sh_hash")
    r = join_side.select(F.col("__id").alias("b_id"), "__sh_hash")
    # the explicit repartition pins the dedup exchange at session
    # parallelism: dropDuplicates reuses it (same hash keys, same n) so
    # no extra shuffle, but unlike the exchange dropDuplicates would
    # plan on its own, a user repartition is NOT AQE-coalescible — the
    # downstream verification stage is compute-dense per byte (one
    # array_intersect per candidate pair), and AQE's byte-targeted
    # coalescing was fusing it to 4 tasks on 32 cores at sf0.1
    n_part = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions",
                                          "200"))
    cand = (
        l.join(r, on="__sh_hash", how="inner")
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .repartition(n_part, "a_id", "b_id")
        .dropDuplicates(["a_id", "b_id"])
    )
    sha = base.select(F.col("__id").alias("a_id"), F.col("__sh").alias("__sha"))
    shb = base.select(F.col("__id").alias("b_id"), F.col("__sh").alias("__shb"))
    pairs = cand.join(sha, on="a_id").join(shb, on="b_id")
    inter = F.size(F.array_intersect(F.col("__sha"), F.col("__shb")))
    union = F.size(F.col("__sha")) + F.size(F.col("__shb")) - inter
    return (
        pairs.withColumn(
            "jaccard",
            F.when(union > 0, inter.cast("double") / union).otherwise(F.lit(0.0)),
        )
        .filter(F.col("jaccard") >= t)
        .select("a_id", "b_id", "jaccard")
    )


# ---------------------------------------------------------------------------
# SimHash near-dup


def simhash(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    bits: int = 64, hash_fn: str = "xxhash64",
) -> DataFrame:
    """SimHash over whitespace tokens (Charikar 2002): bit i of the hash
    is the sign of Σ_tokens (±1 by bit i of hash64(token)). Computed
    with explode + groupBy — one shuffle on id; per-bit sums are plain
    conditional aggregates (codegen'd). ``hash_fn='md5long'`` (60-bit)
    is DuckDB-reproducible for the oracle harness.

    ``bits`` may exceed 64 (xxhash64 only): logical word w draws its
    token hash from salt w, and the fingerprint is emitted as columns
    `simhash` (word 0 — bit-identical to the ≤64-bit output),
    `simhash_w1`, … Wide fingerprints exist for SCALE: pigeonhole
    blocking's random-collision term is n²/2^(bits/(h+1)) — at 64 bits
    and h=3 that is n²/2^16 (measured superlinear at 50k docs,
    SCALE.md); at 128 bits the same h gives 32-bit chunks and the term
    vanishes for any realistic corpus."""
    if hash_fn == "md5long":
        if bits > 60:
            raise ValueError("md5long simhash caps at 60 bits (oracle mode)")
        bits = min(bits, 60)
    words = (int(bits) + 63) // 64
    # no _spread here: tokenization is light enough that the extra
    # repartition shuffle of the full text column costs more than the
    # parallelism buys (unlike the 32-hash shingle stages)
    toks = df.select(
        F.col(id_col),
        F.explode(
            F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
        ).alias("__tok"),
    )
    for w in range(words):
        toks = toks.withColumn(f"__h{w}", _hash64(F.col("__tok"), w, hash_fn))
    # bit i is set iff sign(Σ ±1) > 0 ⟺ 2·count_of_1s(i) > n_tokens.
    # The per-bit counters are PACKED three to a long (21-bit lanes) so
    # the groupBy runs 22 sum aggregates per word instead of 64 — ~3×
    # less aggregation work per row, bit-identical signatures. Lane
    # capacity 2^21 tokens/doc; the packed per-token value (≤
    # 2^42+2^21+1) times 2^20 tokens stays under 2^63, so docs up to
    # ~1M tokens are safe. Both the packed aggregates and the 64-term
    # reconstruction are built as SQL strings (one F.expr py4j call
    # each): the per-Column formulation spent ~1.5 s of DRIVER time per
    # query on py4j round-trips — more than the job itself.
    LANE, PER = 21, 3
    aggs = [F.count(F.lit(1)).alias("__n")]
    for w in range(words):
        wbits = min(64, bits - w * 64)
        for g in range((wbits + PER - 1) // PER):
            terms = [
                f"shiftleft(shiftright(__h{w}, {g * PER + lane}) & 1, {LANE * lane})"
                for lane in range(min(PER, wbits - g * PER))
            ]
            aggs.append(F.expr(f"sum({' + '.join(terms)})").alias(f"__g{w}_{g}"))
    sums = toks.groupBy(id_col).agg(*aggs)
    mask = (1 << LANE) - 1
    out_cols = [F.col(id_col)]
    for w in range(words):
        wbits = min(64, bits - w * 64)
        bit_terms = []
        for i in range(wbits):
            g, lane = divmod(i, PER)
            c = f"(shiftright(__g{w}_{g}, {LANE * lane}) & {mask})"
            bit_terms.append(
                f"(CASE WHEN {c} * 2 > __n THEN shiftleft(CAST(1 AS BIGINT), {i})"
                " ELSE CAST(0 AS BIGINT) END)"
            )
        name = "simhash" if w == 0 else f"simhash_w{w}"
        out_cols.append(F.expr(" | ".join(bit_terms)).alias(name))
    return sums.select(*out_cols)


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bits: int = 64,
    hash_fn: str = "xxhash64",
    scheme: str = "combos",
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) <= max_hamming.

    Blocking is LOSSLESS under either scheme (blocked output ==
    brute-force output, which is what the DuckDB oracle exploits — it
    brute-forces); verification = popcount of XOR. Schemes:

    - ``'combos'`` (default): split into h+2 parts; h flipped bits hit
      ≤ h parts, so ≥ 2 parts stay intact, and some PAIR of intact
      parts is among the C(h+2, 2) part-pair keys each doc emits.
      Key width ≈ 2·bits/(h+2) — 25 bits at h=3/64 bits — so the
      random-collision candidate term is n²/2^25: the n²/2^16 growth
      the single-part scheme shows from ~50k docs (measured 17× at
      sf1, SCALE.md) disappears for ~2.5× more (but skinny) explode
      rows. The multi-index-hashing pigeonhole generalization
      (cf. Norouzi et al., "Fast Search in Hamming Space with
      Multi-Index Hashing", CVPR'12).
    - ``'parts'``: the classic h+1 single-part blocking — fewer keys,
      right for small corpora or when paired with ``bits=128``.

    ``bits > 64`` (multi-word fingerprint, see :func:`simhash`) widens
    every key and works with both schemes. Packed keys go through
    xxhash64 — a key collision only adds a candidate, and every
    candidate is exact-verified, so the result set is unchanged."""
    if hash_fn == "md5long":
        bits = min(bits, 60)
    bits = int(bits)
    words = (bits + 63) // 64
    sh = simhash(df, text_col, id_col, bits=bits, hash_fn=hash_fn)
    wcols = ["simhash"] + [f"simhash_w{w}" for w in range(1, words)]

    def slice_col(lo, hi):
        """Bits [lo, hi) of the multi-word fingerprint as a key Column."""
        pieces, off = [], 0
        for w in range(words):
            wlo, whi = w * 64, min(bits, (w + 1) * 64)
            s, e = max(lo, wlo), min(hi, whi)
            if s >= e:
                continue
            width = e - s
            p = F.shiftright(F.col(wcols[w]), s - wlo)
            if width < 64:
                p = p.bitwiseAND(F.lit((1 << width) - 1))
            pieces.append((p, off))
            off += width
        if len(pieces) == 1 and off <= 63:
            # single sub-64-bit piece: the raw value IS the key (the
            # words==1 plan is bit-identical to the pre-wide operator)
            return pieces[0][0]
        # multi-piece or full-width chunk: pack through xxhash64
        return F.xxhash64(*[p for p, _ in pieces])

    def part_bounds(n_parts):
        base = bits // n_parts
        return [
            (i * base, bits if i == n_parts - 1 else (i + 1) * base)
            for i in range(n_parts)
        ]

    if scheme == "parts":
        chunks = [
            slice_col(lo, hi) for lo, hi in part_bounds(max_hamming + 1)
        ]
    elif scheme == "combos":
        n_parts = max_hamming + 2
        if bits // n_parts < 1:
            raise ValueError(f"bits={bits} too small for {n_parts} parts")
        parts = [slice_col(lo, hi) for lo, hi in part_bounds(n_parts)]
        chunks = [
            F.xxhash64(parts[a], parts[b])
            for a in range(n_parts)
            for b in range(a + 1, n_parts)
        ]
    else:
        raise ValueError(f"scheme must be 'parts' or 'combos', got {scheme!r}")
    chunks = [c.alias(f"__c{i}") for i, c in enumerate(chunks)]
    ex = sh.select(
        id_col, *wcols, F.posexplode(F.array(*chunks)).alias("__ci", "__cv")
    )
    l = ex.select(
        F.col(id_col).alias("a_id"),
        *[F.col(c).alias(f"__ha{w}") for w, c in enumerate(wcols)],
        "__ci", "__cv",
    )
    r = ex.select(
        F.col(id_col).alias("b_id"),
        *[F.col(c).alias(f"__hb{w}") for w, c in enumerate(wcols)],
        "__ci", "__cv",
    )
    cand = (
        l.join(r, on=["__ci", "__cv"], how="inner")
        .filter(F.col("a_id") < F.col("b_id"))
        .dropDuplicates(["a_id", "b_id"])
    )
    ham = None
    for w in range(words):
        h = F.bit_count(F.col(f"__ha{w}").bitwiseXOR(F.col(f"__hb{w}")))
        ham = h if ham is None else ham + h
    return (
        cand.withColumn("hamming", ham)
        .filter(F.col("hamming") <= int(max_hamming))
        .select("a_id", "b_id", "hamming")
    )


# ---------------------------------------------------------------------------
# embedding-cosine near-dup


def embedding_dup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    algo: str = "lsh",
    n_planes: int = 12,
    seed: int = 42,
    dim: Optional[int] = None,
    probe: int = 1,
) -> DataFrame:
    """Pairs with cosine similarity >= threshold.

    Default ``algo='lsh'``: random-hyperplane signature blocking —
    candidates within Hamming distance ``probe`` of the full sign
    signature; linear-ish shuffle volume, the only sane default when a
    pipeline inherits this at 100 TB (n_planes ~ 12-18 keeps buckets
    executor-sized). ``probe=1`` (default) multi-probes: one side
    explodes to its signature plus the n_planes one-bit flips, so a
    near-pair split by a single plane is still a candidate (the same
    adjacency the query-time ANN path probes); ``probe=0`` is
    exact-signature blocking. ``algo='exact'`` is the opt-in
    brute-force self-join — the small-scale oracle path, an all-pairs
    crossJoin that must never be a silent default.
    """
    from ..functions import cosine_similarity, vec_norm

    a = df.select(F.col(id_col).alias("a_id"), F.col(vec_col).alias("__va"))
    b = df.select(F.col(id_col).alias("b_id"), F.col(vec_col).alias("__vb"))
    if algo == "exact" or n_planes <= 0:
        cand = a.crossJoin(b).filter(F.col("a_id") < F.col("b_id"))
    elif algo != "lsh":
        raise ValueError(f"unknown embedding-dup algo: {algo}")
    else:
        sig = _hyperplane_signature(df, vec_col, n_planes, seed, dim=dim)
        sa = sig.select(F.col(id_col).alias("a_id"), F.col("__sig").alias("__siga"))
        sb = sig.select(F.col(id_col).alias("b_id"), F.col("__sig").alias("__sigb"))
        sa = sa.withColumn("__siga", _probe_signatures("__siga", n_planes, probe))
        cand = (
            a.join(sa, on="a_id")
            .join(sb.join(b, on="b_id"), F.col("__siga") == F.col("__sigb"))
            .filter(F.col("a_id") < F.col("b_id"))
        )
    sim = cosine_similarity("__va", "__vb")
    return (
        cand.withColumn("cosine_sim", F.round(sim, 6))
        .filter(F.col("cosine_sim") >= float(threshold))
        .select("a_id", "b_id", "cosine_sim")
    )


def _probe_signatures(sig_col, n_planes: int, probe: int):
    """Multi-probe explode: the signature itself plus, at ``probe=1``,
    its ``n_planes`` one-bit flips (Hamming-1 neighbors). A near-pair
    whose vectors straddle exactly one hyperplane lands in a flipped
    bucket — signature-equality blocking alone misses it. Candidates
    stay unique: a pair at Hamming distance h ≤ probe matches exactly
    one probed variant."""
    probe = int(probe)
    if probe <= 0:
        return F.col(sig_col) if isinstance(sig_col, str) else sig_col
    if probe > 1:
        raise ValueError("probe > 1 not supported (candidate fanout grows as C(n_planes, probe))")
    s = F.col(sig_col) if isinstance(sig_col, str) else sig_col
    return F.explode(
        F.array(
            s,
            *[
                s.bitwiseXOR(F.lit(1 << i).cast("long"))
                for i in range(int(n_planes))
            ],
        )
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    sort_col: str,
    id_col: str,
    window: int = 3,
) -> DataFrame:
    """Sorted-neighborhood dedup blocking (Hernández & Stolfo 1995,
    the merge/purge method): rows are globally ranked by
    ``(sort_col, id_col)`` and every pair within ``window`` ranks is a
    candidate — the classic entity-resolution blocker for near-keys
    that hash/signature blockers miss (typo'd titles, shifted
    prefixes). Returns (a_id, b_id, rank_dist), a_id ranked before
    b_id, 1 <= rank_dist <= window.

    Scale shape: the global rank is the two-phase
    :func:`..pipeline.running_total` (range-repartition + broadcast
    per-partition offsets — never a single-partition window); the
    neighborhood join is a band equi-join on floor(rank/window) with
    the left side exploded to its band and the next (each qualifying
    pair lands in exactly one band, so candidates are emitted once and
    the join is ~2 skinny (id, rank) rows per input row, output
    bounded by n·window).

    The order key is ``sort_col || chr(1) || lpad(length(id), 4) ||
    id`` — chr(1) sorts below every printable byte, so lexicographic
    order on the key equals sort_col order with a deterministic
    (length(id), id) tiebreak, and the key is unique for unique ids of
    ANY length (a fixed-width lpad would silently truncate long string
    ids and break the uniqueness running_total requires). sort_col
    must not contain chr(0) or chr(1) (a NUL byte sorts below the
    separator and flips the prefix rule — found by the property test);
    both engines compare binary UTF-8 and the oracle mirrors the same
    key.
    """
    from .pipeline import running_total

    w = int(window)
    if w < 1:
        raise ValueError(f"window must be >= 1: {window}")
    ids = F.col(id_col).cast("string")
    okey = F.concat(F.col(sort_col).cast("string"), F.expr("chr(1)"),
                    F.lpad(F.length(ids).cast("string"), 4, "0"), ids)
    base = (
        df.filter(F.col(sort_col).isNotNull() & F.col(id_col).isNotNull())
        .select(F.col(id_col), okey.alias("__sn_k"), F.lit(1).alias("__one"))
    )
    ranked = running_total(base, "__sn_k", "__one", "__sn_r")
    skinny = ranked.select(F.col(id_col), F.col("__sn_r"))
    a = skinny.select(F.col(id_col).alias("a_id"),
                      F.col("__sn_r").alias("__ra"))
    b = skinny.select(F.col(id_col).alias("b_id"),
                      F.col("__sn_r").alias("__rb"))
    band = F.floor(F.col("__ra") / w)
    a2 = a.withColumn("__band", F.explode(F.array(band, band + 1)))
    b2 = b.withColumn("__band", F.floor(F.col("__rb") / w))
    return (
        a2.join(b2, on="__band")
        .filter((F.col("__rb") > F.col("__ra"))
                & (F.col("__rb") - F.col("__ra") <= w))
        .select("a_id", "b_id",
                (F.col("__rb") - F.col("__ra")).alias("rank_dist"))
    )


def semantic_dedup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    k: int = 16,
    iters: int = 2,
    dim: Optional[int] = None,
    seed: int = 42,
    route: str = "arrow",
) -> DataFrame:
    """SemDeDup-style semantic near-dup pairs: k-means clusters block
    the candidate space, cosine similarity >= threshold is checked
    WITHIN clusters only (Abbas et al. 2023, "SemDeDup: Data-efficient
    learning at web-scale through semantic deduplication" — the
    published recipe: cluster once, compare only within clusters).

    Scale: the pair candidate count drops from C(n,2) to
    sum_c C(n_c,2) ~ n^2/k — pick k so clusters are executor-sized
    (k ~ n/10^4 at corpus scale; the k x d centroid state is driver-
    bounded regardless, see :func:`..clustering.kmeans`). The
    within-cluster self-join is a plain equi-join on the cluster id,
    so AQE's skew-join split handles an oversized cluster. Complements
    :func:`embedding_dup_pairs`: LSH blocks on signature locality
    (no training pass, fixed fanout), this blocks on learned global
    structure — SemDeDup's observation is that semantic duplicates
    concentrate inside clusters at far smaller candidate volume.

    Returns (a_id, b_id, sim4): pairs filtered at round(cos, 6) >=
    threshold, similarity emitted at 4 decimals — the package's cosine
    oracle convention (engine-bit-stable at that granularity).

    ``route`` defaults to the Arrow assignment kernel here (not
    'auto'): a broadcast pair join fuses BOTH sides' assignment
    projections plus the cosine fold into one codegen fragment, which
    halves the literal-term budget and overflowed Janino's 64 KB
    method limit at k*d as low as 256 (measured — 'auto' would have
    picked literals there). The kernel is bit-identical, and its
    Python-worker stage is a natural fusion barrier, so the join
    fragment only ever sees plain attribute columns.
    """
    from ..functions import cosine_similarity
    from .clustering import kmeans

    assigned, _ = kmeans(
        df.select(id_col, vec_col), vec_col=vec_col, id_col=id_col,
        k=k, iters=iters, dim=dim, seed=seed, out_col="__sd_c",
        route=route,
    )
    a = assigned.select(F.col(id_col).alias("a_id"),
                        F.col(vec_col).alias("__va"), "__sd_c")
    b = assigned.select(F.col(id_col).alias("b_id"),
                        F.col(vec_col).alias("__vb"), "__sd_c")
    sim = cosine_similarity("__va", "__vb")
    return (
        a.join(b, on="__sd_c")
        .filter(F.col("a_id") < F.col("b_id"))
        .withColumn("__sim", sim)
        .filter(F.round("__sim", 6) >= float(threshold))
        .select("a_id", "b_id", F.round("__sim", 4).alias("sim4"))
    )


def semantic_dedup_sql(
    table_sql: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    k: int = 16,
    iters: int = 2,
    dim: int = 64,
    seed: int = 42,
) -> str:
    """DuckDB mirror of :func:`semantic_dedup_pairs`: the kmeans
    assignment CTEs (identical distance arithmetic) + a within-cluster
    pair join with ``list_cosine_similarity`` (bit-stable vs the Spark
    fold at the rounded granularities, same convention as the
    embedding_dup_pairs oracle)."""
    from .clustering import _kmeans_sql_parts

    parts, final = _kmeans_sql_parts(
        table_sql, vec_col=vec_col, id_col=id_col, k=k, iters=iters,
        dim=dim, seed=seed, out_col="__sd_c")
    parts.append(f"__sd_asg AS (\n{final}\n)")
    cos = (f"list_cosine_similarity(pa.{vec_col}::DOUBLE[], "
           f"pb.{vec_col}::DOUBLE[])")
    return ",\n".join(parts) + f"""
SELECT a.{id_col} AS a_id, b.{id_col} AS b_id,
       round({cos}, 4) AS sim4
FROM __sd_asg a JOIN __sd_asg b
  ON a.__sd_c = b.__sd_c AND a.{id_col} < b.{id_col}
JOIN __pts pa ON pa.{id_col} = a.{id_col}
JOIN __pts pb ON pb.{id_col} = b.{id_col}
WHERE round({cos}, 6) >= {float(threshold)}"""


def _plane_dot(vec_col, plane) -> "Column":
    """Dot product of an array column with a literal plane via
    zip_with + aggregate — a constant-size expression regardless of
    dimensionality (the unrolled per-element form blows past the 64KB
    codegen method limit at d*planes ≳ 500 terms and silently drops to
    interpreted eval)."""
    lit_plane = F.array(*[F.lit(float(x)) for x in plane])
    vc = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    return F.aggregate(
        F.zip_with(vc, lit_plane, lambda a, b: a.cast("double") * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def hyperplane_sig_col(vec_col, planes) -> "Column":
    """Sign-signature Column over literal hyperplanes (one bit per
    plane) — constant-size expression per plane, codegen-safe."""
    sig = F.lit(0).cast("long")
    for p_idx in range(len(planes)):
        dot = _plane_dot(vec_col, planes[p_idx])
        sig = sig.bitwiseOR(
            F.when(dot >= 0, F.shiftleft(F.lit(1).cast("long"), p_idx)).otherwise(F.lit(0).cast("long"))
        )
    return sig


def hyperplane_planes(n_planes: int, dim: int, seed: int):
    """Seeded plane matrix (n_planes, dim) — generated driver-side with
    numpy and inlined as literals; a few KB regardless of data size."""
    import numpy as np

    rng = np.random.RandomState(seed)
    return rng.standard_normal((n_planes, dim))


def _hyperplane_signature(
    df: DataFrame, vec_col: str, n_planes: int, seed: int,
    dim: Optional[int] = None,
) -> DataFrame:
    """Sign signature over seeded random hyperplanes. Pass `dim` to
    avoid the one-row dimensionality probe job."""
    if dim is None:
        dim = len(df.select(vec_col).first()[0])
    planes = hyperplane_planes(n_planes, dim, seed)
    id_cols = [c for c in df.columns if c != vec_col]
    return df.select(*id_cols, hyperplane_sig_col(vec_col, planes).alias("__sig"))


# ---------------------------------------------------------------------------
# benchmark-contamination detection


def contamination_check(
    docs: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    eval_text_col: str = "text",
    eval_id_col: str = "doc_id",
    shingle_k: int = 8,
) -> DataFrame:
    """Benchmark-contamination detection: which training documents
    share at least one k-token shingle with any eval-set document —
    the decontamination pass every serious pretraining pipeline runs
    before training (n-gram overlap against held-out benchmarks).

    Returns one row per contaminated doc:
    ``(doc_id, n_hit_shingles, n_eval_docs)`` — how many distinct
    shingles matched and how many distinct eval documents they came
    from. Docs with no overlap are absent (inner join); left-anti the
    result against the corpus to keep the clean set.

    Plan shape: both sides explode to distinct k-shingles, equi-join on
    the shingle, two countDistinct aggregates on doc id. At 100 TB the
    eval side is benchmark-sized (thousands of docs) — its exploded
    shingle set broadcast-joins; the training side streams through
    map-side. Shingles join as raw strings so the op is oracle-exact;
    hash them to xxhash64 first if shuffle width ever dominates."""
    from .text import shingles

    d = _spread(docs).select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(shingles(text_col, shingle_k))).alias("__s"),
    )
    e = eval_df.select(
        F.col(eval_id_col).alias("__eval_id"),
        F.explode(
            F.array_distinct(shingles(eval_text_col, shingle_k))
        ).alias("__s"),
    )
    return (
        d.join(e, on="__s", how="inner")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("__s").alias("n_hit_shingles"),
            F.countDistinct("__eval_id").alias("n_eval_docs"),
        )
    )


def remove_duplicated_ngrams(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    max_doc_freq: int = 1,
    sep: str = " ",
) -> DataFrame:
    """Scrub globally duplicated token spans: any position covered by an
    n-gram that occurs in more than `max_doc_freq` DISTINCT documents is
    REMOVED from every document, and the surviving tokens are rejoined
    in order — the transform counterpart of :func:`dup_ngram_fraction`'s
    signal (C4-style span-level boilerplate removal; whole-document and
    paragraph dedup can't catch a shared sentence embedded in otherwise
    unique text). Returns `(id_col, text, n_tokens, n_removed)`; rows
    whose every token was covered come back with empty text.

    Unlike the *_fraction signal (which lowercases), gram identity here
    is over the RAW tokens of a literal-`sep` split, so the surviving
    text reassembles byte-exactly.

    Scale: gram hashes are computed INSIDE the token array
    (`transform` + `slice`) before the posexplode, so the exploded rows
    are skinny (id, pos, md5) — never the token array replicated per
    position. Distinct-doc counts are a two-step skinny aggregate
    ((gram, id) partial-combine, then gram), so a gram repeated 10⁹
    times costs map-side rows, not one hot reducer. Covered positions
    explode ≤ n rows per hot-gram occurrence — output-bounded (those
    are exactly the edits to apply).
    """
    n = int(n)
    pat = "\\Q" + sep + "\\E"
    chr1 = "\x01"
    # tokenize + in-array gram hashing is compute-dense per row and the
    # bench corpus is a one-split small-file scan — spread it or the
    # pre-exchange map stages run on one core; the plan-time guards
    # skip the exchange at scale (r12)
    from ..functions import parallelize_small

    df = parallelize_small(df)
    arr = df.select(
        F.col(id_col).alias("__id"),
        F.split(F.col(text_col), pat, -1).alias("__ts"),
    )
    gh = F.when(
        F.size("__ts") >= n,
        F.transform(
            F.sequence(F.lit(1), F.size("__ts") - (n - 1)),
            lambda p: F.md5(F.array_join(F.slice("__ts", p, n), chr1)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    grams = arr.select(
        "__id", F.posexplode(gh).alias("__p", "__g")
    )
    hot = (
        grams.select("__g", "__id")
        .distinct()
        .groupBy("__g")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") > int(max_doc_freq))
        .select("__g")
    )
    covered = (
        grams.join(hot, on="__g", how="left_semi")
        .select(
            "__id",
            F.explode(
                F.sequence(F.col("__p"), F.col("__p") + (n - 1))
            ).alias("__pos"),
        )
        .distinct()
    )
    toks = arr.select(
        "__id", F.posexplode("__ts").alias("__pos", "__tok")
    )
    kept = toks.join(covered, on=["__id", "__pos"], how="left_anti")
    rebuilt = (
        kept.groupBy("__id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("__pos", "__tok"))
            ).alias("__ps")
        )
        .select(
            "__id",
            F.array_join(
                F.transform(F.col("__ps"), lambda s: s["__tok"]), sep
            ).alias("text"),
            F.size("__ps").alias("__n_kept"),
        )
    )
    base = arr.select("__id", F.size("__ts").alias("n_tokens"))
    return (
        base.join(rebuilt, on="__id", how="left")
        .select(
            F.col("__id").alias(id_col),
            F.coalesce(F.col("text"), F.lit("")).alias("text"),
            F.col("n_tokens"),
            (F.col("n_tokens") - F.coalesce(F.col("__n_kept"), F.lit(0)))
            .cast("int")
            .alias("n_removed"),
        )
    )


def dup_ngram_fraction(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    min_doc_count: int = 2,
) -> DataFrame:
    """Cross-document duplicated-n-gram fraction — the C4/RefinedWeb
    boilerplate signal: for each document, the fraction of its n-gram
    positions whose n-gram also occurs in at least `min_doc_count`
    DISTINCT documents. High fractions flag boilerplate/templated docs
    that survive whole-document dedup (no reference analog; SURVEY §2.7
    north-star family).

    Plan: tokenize → positional n-grams (explode; ~n× row
    amplification on skinny (id, gram) rows only) → (1) per-gram
    distinct-doc counts, one shuffle on the gram; (2) join the counts
    back and aggregate per doc, one shuffle on the id. A globally hot
    gram is ONE row after aggregation (1), so popularity cannot skew
    the join — the same bounded-skew argument as the TF-IDF plan.
    At larger scale swap the gram string for xxhash64(gram) to shrink
    shuffle bytes (kept as the raw string here so the DuckDB oracle is
    engine-portable).

    Returns (id, n_grams, n_dup, dup_frac) for docs with >= n tokens;
    dup_frac is the raw IEEE quotient (exact cross-engine).
    """
    n = int(n)
    toks = F.split(F.lower(F.trim(F.col(text_col))), TOKEN_SPLIT_RE)
    # spread the one-split corpus scan before the compute-dense
    # tokenize+gram map stage (r12; guards no-op at scale)
    from ..functions import parallelize_small

    df = parallelize_small(df)
    # gram strings are built INSIDE the array (transform+slice) before
    # the explode, so exploded rows are skinny (id, gram) — the
    # explode-then-slice formulation replicates the whole token array
    # per position (O(len²) bytes through the Generate)
    grams = (
        df.select(id_col, toks.alias("__toks"))
        .filter(F.size("__toks") >= n)
        .select(
            id_col,
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("__toks") - (n - 1)),
                    lambda p: F.array_join(F.slice("__toks", p, n), " "),
                )
            ).alias("__gram"),
        )
    )
    gcount = grams.groupBy("__gram").agg(
        F.countDistinct(id_col).alias("__docs")
    )
    return (
        grams.join(gcount, "__gram")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(
                F.when(F.col("__docs") >= int(min_doc_count), 1).otherwise(0)
            ).alias("n_dup"),
        )
        .withColumn("dup_frac", F.col("n_dup") / F.col("n_grams"))
    )


#: comparison kinds understood by :func:`linkage_score`
_LINKAGE_KINDS = ("exact", "levenshtein", "jaccard_tokens")


def linkage_score(
    pairs: DataFrame,
    fields: Sequence[tuple],
    round_to: int = 6,
    threshold: Optional[float] = None,
) -> DataFrame:
    """Fellegi–Sunter record-linkage scoring over candidate pairs from
    ANY blocker (sorted-neighborhood, minhash bands, a blocking join):
    each field comparison contributes ``log2(m/u)`` on agreement and
    ``log2((1-m)/(1-u))`` on disagreement; a NULL on either side
    contributes 0 (no evidence). Appends per-field agreement flags
    (``agree_<name>``), the agreement count ``n_agree``, and the total
    ``score`` (rounded); ``threshold`` filters to likely matches.

    ``fields`` entries are ``(col_a, col_b, kind, m, u[, sim_t])``:

    - ``kind='exact'`` — equality.
    - ``kind='levenshtein'`` — normalized similarity
      ``1 - lev/max(len)`` ≥ ``sim_t`` (default 0.8). Keep this for
      SHORT fields (names, codes): edit distance is quadratic in
      field length by nature.
    - ``kind='jaccard_tokens'`` — whitespace-token Jaccard ≥ ``sim_t``
      (default 0.5).

    Everything is built-in Column arithmetic (codegen, zero shuffle —
    the blocker owns the join); m/u are the usual match/unmatch
    agreement probabilities (trained elsewhere or set by judgment, as
    in classic FS deployments).
    """
    import math

    if not fields:
        raise ValueError("fields must be non-empty")
    out = pairs
    score = F.lit(0.0)
    n_agree = F.lit(0)
    agree_cols = []
    for spec in fields:
        if len(spec) == 5:
            ca, cb, kind, m, u = spec
            sim_t = 0.8 if kind == "levenshtein" else 0.5
        else:
            ca, cb, kind, m, u, sim_t = spec
        if kind not in _LINKAGE_KINDS:
            raise ValueError(f"unknown comparison kind: {kind}")
        if not (0.0 < u < m < 1.0):
            raise ValueError(f"need 0 < u < m < 1 for field {ca}")
        a, b = F.col(ca), F.col(cb)
        if kind == "exact":
            agree = a == b
        elif kind == "levenshtein":
            max_len = F.greatest(F.length(a), F.length(b))
            sim = F.when(max_len == 0, F.lit(1.0)).otherwise(
                1.0 - F.levenshtein(a, b) / max_len
            )
            agree = sim >= float(sim_t)
        else:  # jaccard_tokens
            ta = F.array_distinct(F.split(F.lower(F.trim(a)), TOKEN_SPLIT_RE))
            tb = F.array_distinct(F.split(F.lower(F.trim(b)), TOKEN_SPLIT_RE))
            inter = F.size(F.array_intersect(ta, tb))
            union = F.size(ta) + F.size(tb) - inter
            agree = F.when(union == 0, F.lit(1.0)).otherwise(
                inter / union
            ) >= float(sim_t)
        w_a = math.log2(m / u)
        w_d = math.log2((1.0 - m) / (1.0 - u))
        known = a.isNotNull() & b.isNotNull()
        flag = F.when(known & agree, 1).when(known, 0)  # NULL when unknown
        name = f"agree_{ca}"
        out = out.withColumn(name, flag)
        agree_cols.append(name)
        score = score + F.when(F.col(name) == 1, F.lit(w_a)).when(
            F.col(name) == 0, F.lit(w_d)
        ).otherwise(F.lit(0.0))
        n_agree = n_agree + F.coalesce(F.col(name), F.lit(0))
    out = out.withColumn("n_agree", n_agree).withColumn(
        "score", F.round(score, round_to)
    )
    if threshold is not None:
        out = out.filter(F.col("score") >= float(threshold))
    return out


def linkage_score_sql(
    pairs_sql: str,
    fields: Sequence[tuple],
    select_cols: str,
    round_to: int = 6,
    threshold: Optional[float] = None,
) -> str:
    """DuckDB SQL mirror of :func:`linkage_score` (same agreement
    definitions, weights as repr'd double literals so the float
    arithmetic matches bit-for-bit)."""
    import math

    flags, score_terms, agree_terms = [], [], []
    for spec in fields:
        if len(spec) == 5:
            ca, cb, kind, m, u = spec
            sim_t = 0.8 if kind == "levenshtein" else 0.5
        else:
            ca, cb, kind, m, u, sim_t = spec
        if kind == "exact":
            agree = f"({ca} = {cb})"
        elif kind == "levenshtein":
            agree = (
                f"(CASE WHEN greatest(length({ca}), length({cb})) = 0"
                f" THEN 1.0 ELSE 1.0 - levenshtein({ca}, {cb})"
                f" / greatest(length({ca}), length({cb})) END"
                f" >= {float(sim_t)!r})"
            )
        else:
            ta = f"list_distinct(regexp_split_to_array(lower(trim({ca})), '\\s+'))"
            tb = f"list_distinct(regexp_split_to_array(lower(trim({cb})), '\\s+'))"
            inter = f"len(list_intersect({ta}, {tb}))"
            union = f"(len({ta}) + len({tb}) - {inter})"
            agree = (
                f"(CASE WHEN {union} = 0 THEN 1.0"
                f" ELSE {inter} / {union} END >= {float(sim_t)!r})"
            )
        w_a = math.log2(m / u)
        w_d = math.log2((1.0 - m) / (1.0 - u))
        name = f"agree_{ca}"
        flags.append(
            f"CASE WHEN {ca} IS NOT NULL AND {cb} IS NOT NULL THEN"
            f" CASE WHEN {agree} THEN 1 ELSE 0 END END AS {name}"
        )
        score_terms.append(
            f"CASE WHEN {name} = 1 THEN {w_a!r}"
            f" WHEN {name} = 0 THEN {w_d!r} ELSE 0.0 END"
        )
        agree_terms.append(f"COALESCE({name}, 0)")
    where = (
        f"WHERE score >= {float(threshold)!r}" if threshold is not None else ""
    )
    return f"""
WITH __flags AS (
  SELECT *, {", ".join(flags)} FROM {pairs_sql}
)
SELECT * FROM (
  SELECT {select_cols}, {", ".join(f"agree_{s[0]}" for s in fields)},
         ({" + ".join(agree_terms)}) AS n_agree,
         round(CAST({" + ".join(score_terms)} AS DOUBLE),
               {int(round_to)}) AS score
  FROM __flags
) {where}
"""


# ---------------------------------------------------------------------------
# Blocked edit-distance self-join (PassJoin-style pigeonhole segments)


def edit_distance_pairs(
    df: DataFrame,
    col: str,
    id_col: str,
    max_dist: int = 1,
) -> DataFrame:
    """All pairs of rows whose ``col`` strings are within Levenshtein
    distance ``max_dist`` — the typo/near-key entity-matching join —
    WITHOUT the all-pairs cross product. Returns ``(a_id, b_id,
    dist)``, ``a_id < b_id``, each unordered pair once.

    Blocking is the PassJoin pigeonhole (Li, Deng, Feng — VLDB'11
    family): split every string into d+1 contiguous segments; if
    lev(a, b) <= d then at most d segments of b are touched by the
    edit script, so at least one appears EXACTLY in a, starting within
    ±d of its position in b (alignment shift bound). Candidates are
    therefore an EQUI-join between b's (length, seg_idx, segment) keys
    and a's extracted substrings at the d+1 segment slots of every
    plausible partner length — sound (no false negatives, asserted
    against the naive cross join in tests) and skew-resistant
    (segments are ~l/(d+1) chars, far more selective than q-grams).

    Strings shorter than d+1 have no pigeonhole guarantee (d edits can
    touch every 1-char segment); they route through a tiny
    length-window equi-join instead — any partner of a (< d+1)-char
    string is itself < 2d+1 chars, so the candidate blowup is bounded
    by the short-string population, which is output-bound anyway
    (almost everything that short IS within distance d).

    Scale shape: per row the probe side emits at most
    (2d+1)·(d+1)·(2d+1) skinny (len, idx, substring) rows (75 at d=2 —
    constant, NOT data-dependent), the join is a plain hash equi-join
    on those composite keys, candidate pairs are deduped BEFORE the
    exact refine, and the final ``levenshtein() <= d`` runs once per
    surviving candidate. No cartesian anywhere (plan-asserted).

    SKEW GUARD — corpus-common affixes are stripped first: ID-like
    corpora ("Supplier#000000001", URL schemes, padded keys) share a
    long literal prefix, which makes every prefix-covering segment a
    single hot join key and silently degenerates the blocking to the
    n² it exists to avoid (measured: 2.1 s → 99.5 s from sf0.1 to sf1
    on supplier names before this guard; 10× data should cost ~2×).
    Since ``lev(P·x·S, P·y·S) = lev(x, y)``, blocking AND refine run
    on the residuals after removing the corpus-wide common prefix P
    and suffix S — distances are unchanged, segments become
    discriminating. P/S derive from four 1-row aggregates
    (lexicographic min/max of the strings and their reverses — the
    set LCP/LCS) carried as a broadcast 1-row frame: no driver
    collect, one lazy plan.
    """
    d = int(max_dist)
    if d < 0:
        raise ValueError(f"max_dist must be >= 0: {max_dist}")
    if d == 0:
        # degenerate: exact-equality join on the string itself
        base0 = df.filter(
            F.col(col).isNotNull() & F.col(id_col).isNotNull()
        ).select(F.col(id_col).alias("__id"), F.col(col).alias("__s"))
        a0 = base0.select(F.col("__id").alias("a_id"), F.col("__s").alias("__sa"))
        b0 = base0.select(F.col("__id").alias("b_id"), F.col("__s").alias("__sb"))
        return (
            a0.join(b0, (F.col("__sa") == F.col("__sb"))
                    & (F.col("a_id") < F.col("b_id")))
            .select("a_id", "b_id", F.lit(0).cast("long").alias("dist"))
        )
    kseg = d + 1
    full = (
        df.filter(F.col(col).isNotNull() & F.col(id_col).isNotNull())
        .select(
            F.col(id_col).alias("__id"),
            F.col(col).alias("__sf"),
            F.length(col).alias("__lf"),
        )
    )
    # corpus-common prefix/suffix lengths: LCP(set) = LCP(min, max)
    # lexicographically; LCS(set) = LCP over the reversed strings.
    # The per-pair LCP of two strings is the position of their first
    # differing character minus one (O(L) single-char probes).
    def _lcp_len(x: str, y: str) -> str:
        return (
            f"coalesce(filter(sequence(1, least(length({x}), length({y}))),"
            f" i -> substring({x}, i, 1) != substring({y}, i, 1))[0] - 1,"
            f" least(length({x}), length({y})))"
        )

    meta = full.agg(
        F.min("__sf").alias("__mn"), F.max("__sf").alias("__mx"),
        F.min(F.reverse("__sf")).alias("__rmn"),
        F.max(F.reverse("__sf")).alias("__rmx"),
        F.min("__lf").alias("__minl"),
    ).select(
        F.expr(_lcp_len("__mn", "__mx")).alias("__p"),
        F.expr(_lcp_len("__rmn", "__rmx")).alias("__q0"),
        F.col("__minl"),
    ).select(
        F.col("__p"),
        F.least(F.col("__q0"), F.col("__minl") - F.col("__p")).alias("__q"),
    )
    # the 1-row meta feeds every branch of the plan (segments, probes,
    # short path, both refine sides) — EAGER checkpoint (r12): branches
    # materialize concurrently, and a lazy checkpoint's corpus min/max
    # aggregate would be recomputed once per concurrent branch
    meta = meta.localCheckpoint(eager=True)
    base = full.crossJoin(F.broadcast(meta)).select(
        "__id",
        F.expr("substring(__sf, __p + 1, __lf - __p - __q)").alias("__s"),
        (F.col("__lf") - F.col("__p") - F.col("__q")).alias("__l"),
    )
    long_side = base.filter(F.col("__l") >= kseg)
    # segment provider (the "b" role): d+1 (len, idx, segment) keys/row
    seg_expr = (
        f"transform(sequence(0, {d}), i -> named_struct("
        f"'i', i, "
        f"'seg', substring(__s, "
        f"1 + i * (__l div {kseg}) + least(i, __l % {kseg}), "
        f"(__l div {kseg}) + (CASE WHEN i < __l % {kseg} THEN 1 ELSE 0 END)"
        f")))"
    )
    segs = long_side.select(
        F.col("__id").alias("b_id"),
        F.col("__l").alias("__bl"),
        F.explode(F.expr(seg_expr)).alias("__e"),
    ).select("b_id", "__bl", F.col("__e.i").alias("__i"),
             F.col("__e.seg").alias("__seg"))
    # probe side (the "a" role): for every plausible partner length l,
    # extract substrings at each segment slot shifted by at most ±d
    # (sequence() is guarded — Spark generates DESCENDING sequences
    # when hi < lo, which would emit bogus probes for short strings)
    probe_expr = f"""
      flatten(transform(
        filter(sequence(__l - {d}, __l + {d}), l -> l >= {kseg}),
        l -> flatten(transform(sequence(0, {d}), i ->
          CASE WHEN least(__l - ((l div {kseg}) + (CASE WHEN i < l % {kseg} THEN 1 ELSE 0 END)) + 1,
                          1 + i * (l div {kseg}) + least(i, l % {kseg}) + {d})
                    >= greatest(1, 1 + i * (l div {kseg}) + least(i, l % {kseg}) - {d})
          THEN transform(
            sequence(
              greatest(1, 1 + i * (l div {kseg}) + least(i, l % {kseg}) - {d}),
              least(__l - ((l div {kseg}) + (CASE WHEN i < l % {kseg} THEN 1 ELSE 0 END)) + 1,
                    1 + i * (l div {kseg}) + least(i, l % {kseg}) + {d})
            ),
            p -> named_struct(
              'l', l, 'i', i,
              'seg', substring(__s, p,
                (l div {kseg}) + (CASE WHEN i < l % {kseg} THEN 1 ELSE 0 END))
            )
          )
          ELSE array() END
        ))
      ))
    """
    probes = long_side.select(
        F.col("__id").alias("a_id"),
        F.explode(F.expr(probe_expr)).alias("__p"),
    ).select(
        "a_id", F.col("__p.l").alias("__pl"), F.col("__p.i").alias("__pi"),
        F.col("__p.seg").alias("__pseg"),
    ).distinct()
    long_cand = probes.join(
        segs,
        (F.col("__pl") == F.col("__bl"))
        & (F.col("__pi") == F.col("__i"))
        & (F.col("__pseg") == F.col("__seg")),
    ).select("a_id", "b_id")
    # short-string path: no pigeonhole below d+1 chars — length-window
    # equi-join (partners of a short string are themselves short)
    short_b = base.filter(F.col("__l") < kseg).select(
        F.col("__id").alias("b_id"), F.col("__l").alias("__bl")
    )
    short_a = (
        base.filter(F.col("__l") <= 2 * d)
        .select(
            F.col("__id").alias("a_id"),
            F.explode(
                F.expr(f"filter(sequence(greatest(0, __l - {d}), __l + {d}),"
                       f" l -> l < {kseg})")
            ).alias("__pl"),
        )
    )
    short_cand = short_a.join(
        short_b, F.col("__pl") == F.col("__bl")
    ).select("a_id", "b_id")
    # discovery is DIRECTED (probe a against b's segments); canonicalize
    # to an unordered pair rather than filtering a direction away — a
    # pair may be found in only one direction (e.g. short-vs-long)
    cand = (
        long_cand.unionByName(short_cand)
        .filter(F.col("a_id") != F.col("b_id"))
        .select(
            F.least("a_id", "b_id").alias("a_id"),
            F.greatest("a_id", "b_id").alias("b_id"),
        )
        .distinct()
    )
    sa = base.select(F.col("__id").alias("a_id"), F.col("__s").alias("__sa"))
    sb = base.select(F.col("__id").alias("b_id"), F.col("__s").alias("__sb"))
    return (
        cand.join(sa, "a_id").join(sb, "b_id")
        .withColumn("dist",
                    F.levenshtein("__sa", "__sb").cast("long"))
        .filter(F.col("dist") <= d)
        .select("a_id", "b_id", "dist")
    )


def edit_distance_pairs_sql(
    from_sql: str,
    col_expr: str,
    id_expr: str,
    max_dist: int = 1,
) -> str:
    """DuckDB oracle for :func:`edit_distance_pairs` — the naive
    length-windowed cross join (the blocking moves work, never rows,
    so the oracle need not reproduce it)."""
    d = int(max_dist)
    return f"""
SELECT a.{id_expr} AS a_id, b.{id_expr} AS b_id,
       levenshtein(a.{col_expr}, b.{col_expr})::BIGINT AS dist
FROM ({from_sql}) a JOIN ({from_sql}) b
  ON a.{id_expr} < b.{id_expr}
 AND abs(length(a.{col_expr}) - length(b.{col_expr})) <= {d}
WHERE a.{col_expr} IS NOT NULL AND b.{col_expr} IS NOT NULL
  AND levenshtein(a.{col_expr}, b.{col_expr}) <= {d}
"""


def blocking_eval(
    cand_pairs: DataFrame,
    true_pairs: DataFrame,
    n_records: int,
    a_col: str = "a_id",
    b_col: str = "b_id",
) -> DataFrame:
    """Blocking-quality metrics (Christen 2012's standard pair):
    evaluate any candidate-pair generator of this family
    (:func:`sorted_neighborhood_pairs`, LSH band collisions, grid
    cells, pigeonhole blocks) against a ground-truth match set —
    PAIR COMPLETENESS pc = |cand ∩ true| / |true| (the recall
    blocking can never give back) and REDUCTION RATIO
    rr = 1 − |cand| / C(n, 2) (how much of the quadratic
    comparison space the blocker avoided), plus their harmonic mean.
    A blocker is only as good as BOTH: all-pairs scores pc=1/rr=0,
    an empty blocker rr≈1/pc=0.

    Both inputs canonicalize to unordered distinct non-self pairs, so
    direction/duplication conventions don't skew counts. Returns ONE
    row ``(n_cand, n_true, n_hit, pair_completeness,
    reduction_ratio, f_score)``; pc is NULL when |true| = 0, f NULL
    when either factor is NULL or the sum is 0.

    Determinism: all counts are exact BIGINTs; the three ratios are
    single fixed-tree double divisions — no float accumulation, no
    rounding needed.

    Scale: two distinct-pair aggregates + one pair equi-join (skinny
    id pairs), each combine-friendly; output is one row.
    """
    if int(n_records) < 2:
        raise ValueError("n_records must be >= 2")

    def _canon(df):
        a, b = F.col(a_col), F.col(b_col)
        return (
            df.filter(a.isNotNull() & b.isNotNull() & (a != b))
            .select(F.least(a, b).alias("a"), F.greatest(a, b).alias("b"))
            .distinct()
        )

    # EAGER checkpoints: the three count aggregates below are evaluated
    # as CONCURRENT broadcast-subquery futures at action time, so a lazy
    # checkpoint would let n_true and n_hit each materialize `true` from
    # scratch in parallel (neither sees the other's in-flight compute) —
    # profiled as two duplicate ~16 s jobs on the sf0.1 truth join.
    # Eager pins one materialization of each side at build time.
    cand = _canon(cand_pairs).localCheckpoint(eager=True)
    true = _canon(true_pairs).localCheckpoint(eager=True)
    nc = cand.agg(F.count(F.lit(1)).alias("n_cand"))
    nt = true.agg(F.count(F.lit(1)).alias("n_true"))
    nh = cand.join(true, ["a", "b"]).agg(F.count(F.lit(1)).alias("n_hit"))
    total = float(int(n_records) * (int(n_records) - 1) / 2)
    row = nc.crossJoin(F.broadcast(nt)).crossJoin(F.broadcast(nh))
    pc = F.when(
        F.col("n_true") > 0,
        F.col("n_hit").cast("double") / F.col("n_true").cast("double"))
    rr = F.lit(1.0) - F.col("n_cand").cast("double") / F.lit(total)
    out = row.select(
        "n_cand", "n_true", "n_hit",
        pc.alias("pair_completeness"), rr.alias("reduction_ratio"))
    f = F.when(
        F.col("pair_completeness").isNotNull()
        & (F.col("pair_completeness") + F.col("reduction_ratio") > 0),
        F.lit(2.0) * F.col("pair_completeness") * F.col("reduction_ratio")
        / (F.col("pair_completeness") + F.col("reduction_ratio")))
    return out.withColumn("f_score", f)


def blocking_eval_sql(
    cand_sql: str,
    true_sql: str,
    n_records: Optional[int] = None,
    a_col: str = "a_id",
    b_col: str = "b_id",
    total_pairs_sql: Optional[str] = None,
) -> str:
    """DuckDB mirror of :func:`blocking_eval` (same canonicalization,
    same fixed division trees; counts cast ::BIGINT).
    ``total_pairs_sql`` lets the oracle derive C(n, 2) in SQL (e.g.
    ``(SELECT (count(*) * (count(*) - 1)) // 2 FROM documents)``) so
    the string stays scale-factor independent; the integer is exact,
    and its DOUBLE cast equals the operator's Python-side float."""
    if total_pairs_sql is not None:
        tot = f"CAST({total_pairs_sql} AS DOUBLE)"
    else:
        tot = repr(float(int(n_records) * (int(n_records) - 1) / 2))

    def _canon(src, name):
        return f"""{name} AS (
  SELECT DISTINCT least({a_col}, {b_col}) AS a,
         greatest({a_col}, {b_col}) AS b
  FROM {src}
  WHERE {a_col} IS NOT NULL AND {b_col} IS NOT NULL
    AND {a_col} <> {b_col}
)"""

    return f"""
WITH {_canon(cand_sql, "__be_c")},
{_canon(true_sql, "__be_t")},
__be AS (
  SELECT (SELECT count(*)::BIGINT FROM __be_c) AS n_cand,
         (SELECT count(*)::BIGINT FROM __be_t) AS n_true,
         (SELECT count(*)::BIGINT FROM __be_c c
          JOIN __be_t t ON t.a = c.a AND t.b = c.b) AS n_hit
)
SELECT n_cand, n_true, n_hit,
       CASE WHEN n_true > 0
            THEN CAST(n_hit AS DOUBLE) / CAST(n_true AS DOUBLE)
       END AS pair_completeness,
       CAST(1.0 AS DOUBLE)
         - CAST(n_cand AS DOUBLE) / {tot} AS reduction_ratio,
       CASE WHEN n_true > 0
             AND CAST(n_hit AS DOUBLE) / CAST(n_true AS DOUBLE)
                 + (CAST(1.0 AS DOUBLE)
                    - CAST(n_cand AS DOUBLE) / {tot}) > 0
            THEN 2.0 * (CAST(n_hit AS DOUBLE) / CAST(n_true AS DOUBLE))
                 * (CAST(1.0 AS DOUBLE)
                    - CAST(n_cand AS DOUBLE) / {tot})
                 / (CAST(n_hit AS DOUBLE) / CAST(n_true AS DOUBLE)
                    + (CAST(1.0 AS DOUBLE)
                       - CAST(n_cand AS DOUBLE) / {tot}))
       END AS f_score
FROM __be
"""
