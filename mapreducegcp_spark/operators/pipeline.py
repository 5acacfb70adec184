"""End-to-end corpus-cleaning pipeline — the composition the individual
LLM-pipeline operators exist for (quality filter -> language slice ->
exact dedup keep-first -> corpus stats), in ONE declarative plan.

The reference could only run one map/reduce pair per job and persist
every intermediate to its KV store (Master/Master.py:61-94); here the
whole pipeline is a single Catalyst plan — no materialization between
stages, filters fused into the scan, one shuffle for the dedup and one
for the final rollup.

Scale: the quality/language filters run map-side and cut the corpus
before the only wide operations; the dedup shuffle key is a sha256
digest (uniform); the rollup is low-cardinality. At 100 TB this plan
reads the text column once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mapreducegcp_spark.functions.exact import o_pct, o_sorted_list
from mapreducegcp_spark.functions.text import TOKEN_ORACLE_EXPR, tokens
from mapreducegcp_spark.registry import register
from mapreducegcp_spark.sources.catalog import load_table

MIN_TOKENS = 20

_TOKS = f"list_filter({TOKEN_ORACLE_EXPR.format(col='text')}, t -> t <> '')"

_PIPELINE_ORACLE = f"""
WITH scored AS (
  SELECT doc_id, source, lang, text, len({_TOKS}) AS n_tokens
  FROM documents
),
kept AS (
  SELECT * FROM scored WHERE n_tokens >= {MIN_TOKENS} AND lang = 'en'
),
dedup AS (
  SELECT *, row_number() OVER (
           PARTITION BY sha256(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))
           ORDER BY doc_id) AS rn
  FROM kept
)
SELECT source,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       CAST(sum(n_tokens) AS DOUBLE) / count(*) AS avg_tokens
FROM dedup
WHERE rn = 1
GROUP BY source
"""



def _cleaned_docs(docs: DataFrame) -> DataFrame:
    """The shared cleaning prefix of both pipeline queries: token-count
    scoring, quality floor (>= MIN_TOKENS), English slice, exact dedup
    keep-first on whitespace-normalized sha256. One definition so the
    fused pipelines cannot drift from each other (their oracle SQL
    strings mirror this stage verbatim)."""
    scored = docs.select(
        "doc_id", "source", "lang", "text", F.size(tokens("text")).alias("n_tokens")
    )
    kept = scored.filter((F.col("n_tokens") >= MIN_TOKENS) & (F.col("lang") == "en"))
    norm = F.sha2(F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " "), 256)
    w = Window.partitionBy(norm).orderBy("doc_id")
    return kept.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)


@register("pipeline_corpus_clean", oracle=_PIPELINE_ORACLE, tags=("llm-pipeline",))
def q_pipeline_corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter (>=20 tokens) -> English slice -> exact dedup on
    normalized text (keep lowest doc_id) -> per-source corpus stats.
    One plan, two shuffles (dedup window, final rollup)."""
    deduped = _cleaned_docs(load_table(spark, sf_dir, "documents"))
    return deduped.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        (F.sum("n_tokens").cast("double") / F.count("*")).alias("avg_tokens"),
    )


# ---------------------------------------------------- incremental dedup

# Near-dup admission threshold — kept in lockstep with
# operators/dedup.py::_JACCARD_THRESHOLD (asserted at import below).
MIN_JACCARD = 0.5

_NEW_SOURCE = "src18"  # the arriving batch; everything else is the corpus

_INCR_ORACLE = f"""
WITH tk AS (SELECT doc_id, source, {_TOKS} AS toks FROM documents),
sh AS (
  SELECT doc_id, source,
         unnest(list_distinct(list_transform(
           range(1, greatest(len(toks) - 1, 0) + 1),
           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS shingle
  FROM tk
),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
hashes AS (
  SELECT doc_id, source,
         sha256(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS h
  FROM documents
),
exact_hit AS (
  SELECT DISTINCT n.doc_id
  FROM hashes n JOIN hashes o ON n.h = o.h AND o.source <> '{_NEW_SOURCE}'
  WHERE n.source = '{_NEW_SOURCE}'
),
pairs AS (
  SELECT a.doc_id AS new_doc, b.doc_id AS old_doc, count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle
  WHERE a.source = '{_NEW_SOURCE}' AND b.source <> '{_NEW_SOURCE}'
  GROUP BY a.doc_id, b.doc_id
),
scored AS (
  SELECT p.new_doc, p.old_doc,
         CAST(p.n_common AS DOUBLE) / (sa.sz + sb.sz - p.n_common) AS jaccard
  FROM pairs p
  JOIN sizes sa ON p.new_doc = sa.doc_id
  JOIN sizes sb ON p.old_doc = sb.doc_id
),
best AS (
  SELECT new_doc, old_doc, jaccard,
         row_number() OVER (PARTITION BY new_doc
                            ORDER BY jaccard DESC, old_doc) AS rn
  FROM scored WHERE jaccard >= {MIN_JACCARD}
)
SELECT d.doc_id,
       CASE WHEN e.doc_id IS NOT NULL THEN 'drop_exact'
            WHEN b.new_doc IS NOT NULL THEN 'drop_neardup'
            ELSE 'keep' END AS decision,
       b.old_doc AS match_doc_id,
       b.jaccard
FROM documents d
LEFT JOIN exact_hit e ON d.doc_id = e.doc_id
LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON d.doc_id = b.new_doc
WHERE d.source = '{_NEW_SOURCE}'
"""


@register("dedup_incremental", oracle=_INCR_ORACLE, tags=("llm-pipeline",))
def q_dedup_incremental(
    spark: SparkSession, sf_dir: str, df_cap: int | None = None
) -> DataFrame:
    """Incremental dedup: admit an arriving batch (source = src18)
    against the existing corpus — drop exact-normalized duplicates,
    then near-duplicates (shingle Jaccard >= 0.5 against any corpus
    doc, reporting the best match), keep the rest. This is the
    continuous-ingestion shape: only the NEW batch is shingled and
    probed; the corpus side is an inverted shingle index that a real
    deployment would have materialized incrementally.

    Scale: cost is proportional to the new batch's shingle mass times
    per-shingle corpus frequency. ``df_cap`` is the hot-shingle
    mitigation, identical in contract to dedup_ngram_jaccard's:
    shingles appearing in more than ``df_cap`` documents — df measured
    over corpus PLUS arriving batch, so a shingle rare in the corpus
    but saturating the batch is also capped — are dropped
    from the probe JOIN (never from the size denominators), so
    per-shingle fan-out is bounded by new_df x df_cap and surviving
    pairs keep their true union size — capped decisions are
    conservative (a doc can only move drop_neardup -> keep, never the
    reverse; precision of reported matches stays 1.0). Default None is
    the exact registered/oracle path. The cap is not optional at
    saturation scale: on the synthetic 100x blowup corpus the ~30-word
    vocabulary drives every shingle's df to O(corpus), and the exact
    join's intermediate exhausted 77 GB of spill disk (measured; same
    family as dedup_ngram_jaccard's 10x receipt). The exact stage is
    one hash semi-join either way."""
    from mapreducegcp_spark.operators.dedup import _JACCARD_THRESHOLD, shingles

    assert _JACCARD_THRESHOLD == MIN_JACCARD
    docs = load_table(spark, sf_dir, "documents")
    is_new = F.col("source") == _NEW_SOURCE
    norm_hash = F.sha2(
        F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " "), 256
    )
    hashed = docs.select("doc_id", "source", norm_hash.alias("h"))
    new_h = hashed.filter(is_new)
    old_h = hashed.filter(~is_new).select(F.col("h").alias("h_old"))
    exact_hit = (
        new_h.join(old_h, new_h.h == F.col("h_old"), "leftsemi")
        .select("doc_id")
        .withColumn("is_exact", F.lit(True))
    )

    # 64-bit shingle ids: identity-only join keys (see dedup.py
    # _doc_shingle_ids for the collision argument), ~3x narrower shuffle.
    # Lazy checkpoint: three consumers (sizes + both join sides) would
    # otherwise each re-run tokenize+shingle over the corpus.
    sh = docs.select(
        "doc_id", "source", tokens("text").alias("toks")
    ).select(
        "doc_id", "source", F.explode(shingles("toks")).alias("shingle_str")
    ).select(
        "doc_id", "source", F.xxhash64("shingle_str").alias("shingle")
    ).localCheckpoint(eager=False)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    joinable = sh
    if df_cap is not None:
        # |hot| <= total_shingle_rows / df_cap (each survivor owns >
        # df_cap rows), so for the intended regime (df_cap sized to
        # make per-shingle fan-out affordable) the set is small — but
        # a tiny df_cap over a large unsaturated shingle space could
        # still make it wide, so leave the join strategy to AQE
        # instead of forcing a driver-side broadcast of it.
        hot = (
            sh.groupBy("shingle")
            .agg(F.count("*").alias("df"))
            .where(F.col("df") > df_cap)
            .select("shingle")
        )
        joinable = sh.join(hot, "shingle", "left_anti")
    new_sh = joinable.filter(is_new).select(F.col("doc_id").alias("new_doc"), "shingle")
    old_sh = joinable.filter(~is_new).select(F.col("doc_id").alias("old_doc"), "shingle")
    pairs = (
        new_sh.join(old_sh, "shingle")
        .groupBy("new_doc", "old_doc")
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("new_doc"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("old_doc"), F.col("sz").alias("sz_b"))
    jac = F.col("n_common").cast("double") / (
        F.col("sz_a") + F.col("sz_b") - F.col("n_common")
    )
    scored = (
        pairs.join(sa, "new_doc")
        .join(sb, "old_doc")
        .select("new_doc", "old_doc", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= _JACCARD_THRESHOLD)
    )
    w = Window.partitionBy("new_doc").orderBy(F.desc("jaccard"), F.asc("old_doc"))
    best = scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)

    new_docs = docs.filter(is_new).select("doc_id")
    return (
        new_docs.join(exact_hit, "doc_id", "left")
        .join(best, new_docs.doc_id == best.new_doc, "left")
        .select(
            "doc_id",
            F.when(F.col("is_exact"), "drop_exact")
            .when(F.col("new_doc").isNotNull(), "drop_neardup")
            .otherwise("keep")
            .alias("decision"),
            F.col("old_doc").alias("match_doc_id"),
            "jaccard",
        )
    )


# ------------------------------------------------- decontamination

_BENCH_SOURCE = "src0"  # stands in for the eval/benchmark document set
_CONTAM_THRESHOLD = 10  # shared shingles that flag a training doc

_DECONTAM_ORACLE = f"""
WITH tk AS (SELECT doc_id, source, {_TOKS} AS toks FROM documents),
sh AS (
  SELECT doc_id, source,
         unnest(list_distinct(list_transform(
           range(1, greatest(len(toks) - 1, 0) + 1),
           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS shingle
  FROM tk
),
bench AS (SELECT DISTINCT shingle FROM sh WHERE source = '{_BENCH_SOURCE}')
SELECT s.doc_id, count(*) AS n_shared,
       count(*) >= {_CONTAM_THRESHOLD} AS flagged
FROM sh s JOIN bench b ON s.shingle = b.shingle
WHERE s.source <> '{_BENCH_SOURCE}'
GROUP BY s.doc_id
"""


@register("decontaminate_ngram_overlap", oracle=_DECONTAM_ORACLE, tags=("llm-pipeline",))
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: count each training document's
    3-gram shingles that also occur anywhere in the eval set (source =
    src0) and flag docs at >= {threshold} shared shingles — the
    contamination screen run before training on scraped data.

    Scale: the eval set's distinct-shingle table is small (eval suites
    are thousands of docs, not billions) — broadcast it, making this a
    map-side semi-join + per-doc count with ONE shuffle on doc_id.
    Training-corpus shingles stream through without materializing."""
    from mapreducegcp_spark.operators.dedup import shingles

    docs = load_table(spark, sf_dir, "documents")
    # sh feeds the eval-shingle broadcast build AND the training-side
    # probe — checkpoint so tokenize+shingle runs once (the broadcast
    # build precedes the join anyway, so no concurrency is lost)
    sh = docs.select(
        "doc_id", "source", tokens("text").alias("toks")
    ).select(
        "doc_id", "source", F.explode(shingles("toks")).alias("shingle_str")
    ).select(
        "doc_id", "source", F.xxhash64("shingle_str").alias("shingle")
    ).localCheckpoint(eager=False)
    bench = (
        sh.filter(F.col("source") == _BENCH_SOURCE).select("shingle").distinct()
    )
    return (
        sh.filter(F.col("source") != _BENCH_SOURCE)
        .join(F.broadcast(bench), "shingle")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shared"),
            (F.count("*") >= _CONTAM_THRESHOLD).alias("flagged"),
        )
    )


# ----------------------------------- corpus -> training-manifest pipeline

_M_SHARDS = 8
_M_WINDOW = 64   # chunk tokens (training.CHUNK_WINDOW)
_M_STRIDE = 48   # chunk stride (training.CHUNK_STRIDE)
_M_SEQ = 512     # packed-sequence token budget (training.SEQ_BUDGET)

_MANIFEST_ORACLE = f"""
WITH scored AS (
  SELECT doc_id, source, lang, text, len({_TOKS}) AS n_tokens FROM documents
),
kept AS (
  SELECT * FROM scored WHERE n_tokens >= {MIN_TOKENS} AND lang = 'en'
),
dedup AS (
  SELECT *, row_number() OVER (
           PARTITION BY sha256(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))
           ORDER BY doc_id) AS rn
  FROM kept
),
ch AS (
  SELECT doc_id, source, n_tokens,
         (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,8)) AS BIGINT) % {_M_SHARDS}) AS shard,
         unnest(generate_series(0, n_tokens - 1, {_M_STRIDE})) AS s
  FROM dedup WHERE rn = 1 AND n_tokens > 0
),
c2 AS (
  SELECT source, shard, doc_id, s / {_M_STRIDE} AS chunk_id,
         least(n_tokens - s, {_M_WINDOW}) AS c_tokens
  FROM ch
),
c3 AS (
  SELECT *, sum(c_tokens) OVER (PARTITION BY source, shard
             ORDER BY doc_id, chunk_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM c2
)
SELECT source, shard,
       CAST(floor((cum - c_tokens) / {_M_SEQ}.0) AS BIGINT) AS seq_id,
       count(*) AS n_chunks,
       CAST(sum(c_tokens) AS BIGINT) AS seq_tokens
FROM c3
GROUP BY source, shard, seq_id
"""


@register("pipeline_corpus_to_manifest", oracle=_MANIFEST_ORACLE, tags=("llm-pipeline",))
def q_pipeline_corpus_to_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL pretraining data path as one declarative plan: quality
    filter -> language slice -> exact dedup (keep-first on normalized
    sha256) -> sliding-window chunking (64/48) -> concat-and-pack into
    512-token sequences per (source, shard) stream -> the manifest a
    dataloader consumes.

    Composition is the point (SURVEY.md §7): every stage is an
    operator that also ships standalone (pipeline_corpus_clean,
    chunk_text_sliding, pack_sequences, shard_assign_fingerprint), and
    chaining them costs NOTHING extra — Catalyst fuses the filters
    into the scan and the whole pipeline runs in TWO shuffles (dedup
    hash, then the per-stream packing window; the manifest rollup
    rides the window's (source, shard) partitioning — plan-frozen in
    test_plans.py). The
    reference needed one full KV-store materialization per stage
    (Master/Master.py:61-94); a 100 TB run here reads text once and
    never writes an intermediate."""
    from mapreducegcp_spark.operators.sampling import md5_bucket
    from mapreducegcp_spark.operators.training import (
        CHUNK_STRIDE,
        CHUNK_WINDOW,
        SEQ_BUDGET,
    )

    # Lockstep with the standalone stages (MIN_JACCARD precedent): the
    # fused pipeline must compute exactly what chunk_text_sliding /
    # pack_sequences compute.
    assert (_M_WINDOW, _M_STRIDE, _M_SEQ) == (CHUNK_WINDOW, CHUNK_STRIDE, SEQ_BUDGET)
    dedup = (
        _cleaned_docs(load_table(spark, sf_dir, "documents"))
        .filter(F.col("n_tokens") > 0)
        .select(
            "doc_id",
            "source",
            "n_tokens",
            md5_bucket(F.col("doc_id").cast("string"), _M_SHARDS).alias("shard"),
        )
    )
    ch = dedup.select(
        "source",
        "shard",
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.col("n_tokens") - 1, F.lit(_M_STRIDE))).alias("s"),
        "n_tokens",
    ).select(
        "source",
        "shard",
        "doc_id",
        (F.col("s") / _M_STRIDE).cast("long").alias("chunk_id"),
        F.least(F.col("n_tokens") - F.col("s"), F.lit(_M_WINDOW)).alias("c_tokens"),
    )
    wp = (
        Window.partitionBy("source", "shard")
        .orderBy("doc_id", "chunk_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c3 = ch.withColumn("cum", F.sum("c_tokens").over(wp))
    return (
        c3.select(
            "source",
            "shard",
            F.floor((F.col("cum") - F.col("c_tokens")) / F.lit(_M_SEQ)).alias("seq_id"),
            "c_tokens",
        )
        .groupBy("source", "shard", "seq_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum("c_tokens").cast("long").alias("seq_tokens"),
        )
    )


# ---------------------------------------------- dedup keep/drop manifest

_KEEP_ORACLE = f"""
WITH RECURSIVE norm AS (
  SELECT doc_id,
         sha256(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS h
  FROM documents
),
exact_keep AS (
  SELECT doc_id, min(doc_id) OVER (PARTITION BY h) AS exact_rep FROM norm
),
tk AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
sh AS (SELECT doc_id, unnest({{SHINGLES}}) AS shingle FROM tk),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
jp AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
near_pairs AS (
  SELECT doc_a, doc_b FROM jp
  JOIN sizes sa ON jp.doc_a = sa.doc_id
  JOIN sizes sb ON jp.doc_b = sb.doc_id
  WHERE CAST(n_common AS DOUBLE) / (sa.sz + sb.sz - n_common) >= 0.5
),
e AS (SELECT doc_a AS a, doc_b AS b FROM near_pairs
      UNION ALL SELECT doc_b, doc_a FROM near_pairs),
nodes AS (SELECT DISTINCT a AS n FROM e),
reach(src, dst) AS (
  SELECT n, n FROM nodes
  UNION
  SELECT r.src, e.b FROM reach r JOIN e ON r.dst = e.a
),
clusters AS (SELECT src AS doc_id, min(dst) AS near_rep FROM reach GROUP BY src)
SELECT x.doc_id,
       CASE WHEN x.exact_rep != x.doc_id THEN 'exact_dup'
            WHEN c.near_rep IS NOT NULL AND c.near_rep != x.doc_id THEN 'near_dup'
            ELSE 'keep' END AS decision,
       CASE WHEN x.exact_rep != x.doc_id THEN x.exact_rep
            WHEN c.near_rep IS NOT NULL AND c.near_rep != x.doc_id THEN c.near_rep
       END AS representative
FROM exact_keep x LEFT JOIN clusters c ON x.doc_id = c.doc_id
"""


def _keep_oracle() -> str:
    from mapreducegcp_spark.operators.dedup import _SHINGLES

    return _KEEP_ORACLE.replace("{SHINGLES}", _SHINGLES)


@register("dedup_keep_manifest", oracle=_keep_oracle(), tags=("llm-pipeline",))
def q_dedup_keep_manifest(
    spark: SparkSession, sf_dir: str, pairs: DataFrame | None = None
) -> DataFrame:
    """The dedup family's ACTIONABLE output: one row per document with
    the keep/drop decision and its representative — exact duplicates
    drop to the lowest doc_id of their normalized-hash group, near
    duplicates (shingle Jaccard >= 0.5, resolved through connected
    components) to their cluster minimum, everything else keeps.
    Exact wins over near (a doc can be both): the precedence a real
    pipeline applies, byte-identity being the stronger claim.

    Composition: exact groups are one window over the sha256 hash;
    near clusters reuse q_dedup_ngram_jaccard + local_uf_components;
    the manifest is a left join of vertex-sized tables. This is what
    pipeline_corpus_clean's keep-first rule generalizes to when the
    dedup signal is fuzzy."""
    from mapreducegcp_spark.operators.dedup import (
        jaccard_pair_graph,
        local_uf_components,
    )

    docs = load_table(spark, sf_dir, "documents")
    norm = F.sha2(F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " "), 256)
    exact = docs.select(
        "doc_id",
        F.min("doc_id").over(Window.partitionBy(norm)).alias("exact_rep"),
    )
    if pairs is None:
        pairs = jaccard_pair_graph(spark, sf_dir)
    clusters = local_uf_components(pairs, "doc_a", "doc_b").select(
        F.col("node").alias("doc_id"), F.col("cluster_id").alias("near_rep")
    )
    j = exact.join(clusters, "doc_id", "left")
    is_exact_dup = F.col("exact_rep") != F.col("doc_id")
    is_near_dup = F.col("near_rep").isNotNull() & (F.col("near_rep") != F.col("doc_id"))
    decision = (
        F.when(is_exact_dup, "exact_dup")
        .when(is_near_dup, "near_dup")
        .otherwise("keep")
    )
    rep = F.when(is_exact_dup, F.col("exact_rep")).when(is_near_dup, F.col("near_rep"))
    return j.select("doc_id", decision.alias("decision"), rep.alias("representative"))


# ---------------------------------------------- leakage-safe splitting

def _leakage_split_oracle() -> str:
    from mapreducegcp_spark.operators.sampling import _o_split

    group = "coalesce(m.representative, m.doc_id)"
    return f"""
WITH manifest AS ({_keep_oracle().strip()})
SELECT m.doc_id,
       {group} AS group_key,
       {_o_split(f"CAST({group} AS VARCHAR)")} AS split
FROM manifest m
"""


@register("split_leakage_safe", oracle=_leakage_split_oracle(), tags=("llm-pipeline",))
def q_split_leakage_safe(
    spark: SparkSession, sf_dir: str, pairs: DataFrame | None = None
) -> DataFrame:
    """Group-aware train/val/test split: hash the DEDUP GROUP, not the
    document, so a document and its same-group duplicates cannot
    straddle train and test — the leakage failure mode a doc-id-keyed
    split (split_train_val_test) cannot prevent when the corpus
    contains near-copies of the same page. (Within one GROUP the
    guarantee is absolute; across a near-dup cluster that the
    manifest's exact-over-near precedence splits into several groups
    a residual remains — split_leakage_audit measures it.)

    The group key is the keep-manifest representative (exact-hash group
    min, else near-dup cluster min, else the doc itself), so membership
    is still a pure deterministic function of content — stable across
    runs, engines, and corpus growth. Composition: manifest (vertex-
    sized) + a map-only md5 bucket; the only data-sized cost was
    already paid by the dedup pass. Note the grouping follows the
    manifest's exact-over-near precedence; a chain exact->near->exact
    collapses per that precedence, not by full transitive closure."""
    from mapreducegcp_spark.operators.sampling import split_of

    manifest = q_dedup_keep_manifest(spark, sf_dir, pairs)
    group = F.coalesce(F.col("representative"), F.col("doc_id"))
    return manifest.select(
        "doc_id",
        group.alias("group_key"),
        split_of(group.cast("string")).alias("split"),
    )


# ------------------------------------------------ filter-funnel audit

_FUNNEL_RULES = 4  # length, stopword density, repetition, language

_FUNNEL_ORACLE = f"""
WITH m AS (
  SELECT lang,
         len({_TOKS}) AS n_tokens,
         len(list_filter({_TOKS}, t -> list_contains(
             ['the','a','of','and','to','in','is','it','on','for'], t)))
           AS stop_hits,
         (SELECT max(cnt) FROM (
            SELECT count(*) AS cnt FROM unnest({_TOKS}) AS u(t) GROUP BY t))
           AS top_tok
  FROM documents
),
flags AS (
  SELECT (n_tokens >= 20) AS r1,
         (n_tokens > 0 AND CAST(stop_hits AS DOUBLE) / n_tokens >= 0.02) AS r2,
         (n_tokens > 0 AND CAST(top_tok AS DOUBLE) / n_tokens <= 0.2) AS r3,
         (lang = 'en') AS r4
  FROM m
)
SELECT * FROM (
  SELECT 1 AS rule, CAST(sum(CASE WHEN NOT r1 THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_alone,
         CAST(sum(CASE WHEN r1 THEN 1 ELSE 0 END) AS BIGINT) AS n_survive_cum
  FROM flags
  UNION ALL
  SELECT 2, CAST(sum(CASE WHEN NOT r2 THEN 1 ELSE 0 END) AS BIGINT),
         CAST(sum(CASE WHEN r1 AND r2 THEN 1 ELSE 0 END) AS BIGINT) FROM flags
  UNION ALL
  SELECT 3, CAST(sum(CASE WHEN NOT r3 THEN 1 ELSE 0 END) AS BIGINT),
         CAST(sum(CASE WHEN r1 AND r2 AND r3 THEN 1 ELSE 0 END) AS BIGINT) FROM flags
  UNION ALL
  SELECT 4, CAST(sum(CASE WHEN NOT r4 THEN 1 ELSE 0 END) AS BIGINT),
         CAST(sum(CASE WHEN r1 AND r2 AND r3 AND r4 THEN 1 ELSE 0 END) AS BIGINT) FROM flags
)
"""


@register("pipeline_filter_funnel", oracle=_FUNNEL_ORACLE, tags=("llm-pipeline",))
def q_pipeline_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter-funnel audit: for each cleaning rule (min length,
    stopword density, top-token repetition share, language slice)
    report how many documents fail it IN ISOLATION and how many
    survive the rules CUMULATIVELY in pipeline order — the report that
    tells you which rule is doing the cutting and whether rules
    overlap, before committing to a corpus-clean recipe. (Attribution
    by isolation + cumulative survivorship is the standard funnel
    decomposition; full Shapley attribution needs 2^k passes.)

    Scale: ONE scan computes all per-doc rule flags map-side (the
    repetition share reuses the token array; no second tokenize), and
    the funnel is a single 4x conditional aggregation over the flag
    columns — no shuffle of document data at all, output rows =
    rules."""
    docs = load_table(spark, sf_dir, "documents")
    stops = F.array(*[F.lit(w) for w in
                      ("the", "a", "of", "and", "to", "in", "is", "it", "on", "for")])
    t = docs.select(
        "lang",
        tokens("text").alias("toks"),
    ).select(
        "lang",
        F.size("toks").alias("n_tokens"),
        F.size(F.filter("toks", lambda x: F.array_contains(stops, x))).alias("stop_hits"),
        # max token multiplicity as a sorted-run fold: sort the array
        # (groups equal tokens adjacent), then one pass tracking the
        # current and best run — O(L log L) per doc, vs the obvious
        # distinct x contains formulation's O(L^2).
        F.aggregate(
            F.array_sort("toks"),
            F.struct(
                F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
            ),
            lambda acc, x: F.struct(
                x.alias("prev"),
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
                F.greatest(
                    acc["best"],
                    F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
                ).alias("best"),
            ),
            lambda acc: acc["best"],
        ).alias("top_tok"),
    )
    n_tok = F.col("n_tokens")
    flags = t.select(
        (n_tok >= 20).alias("r1"),
        ((n_tok > 0) & (F.col("stop_hits").cast("double") / n_tok >= 0.02)).alias("r2"),
        ((n_tok > 0) & (F.col("top_tok").cast("double") / n_tok <= 0.2)).alias("r3"),
        (F.col("lang") == "en").alias("r4"),
    )
    # ONE aggregation computes all 8 measures (the docstring's one-scan
    # claim held only per-branch before: a union of 4 independent aggs
    # re-ran the tokenize+sort+fold scan 4x); the 1-row result then
    # explodes into the 4 funnel rows driver-side-free.
    conds = [F.col("r1"), F.col("r2"), F.col("r3"), F.col("r4")]
    aggs = []
    for i, c in enumerate(conds, start=1):
        cum = conds[0]
        for c2 in conds[1:i]:
            cum = cum & c2
        aggs.append(F.sum(F.when(~c, 1).otherwise(0)).alias(f"fail{i}"))
        aggs.append(F.sum(F.when(cum, 1).otherwise(0)).alias(f"cum{i}"))
    one = flags.agg(*aggs)
    funnel = F.array(
        *[
            F.struct(
                F.lit(i).alias("rule"),
                F.col(f"fail{i}").alias("n_fail_alone"),
                F.col(f"cum{i}").alias("n_survive_cum"),
            )
            for i in range(1, 5)
        ]
    )
    return one.select(F.explode(funnel).alias("r")).select(
        "r.rule", "r.n_fail_alone", "r.n_survive_cum"
    )


# --------------------------------------------- split-leakage audit

def _leakage_audit_oracle() -> str:
    from mapreducegcp_spark.operators.dedup import _JACCARD_ORACLE
    from mapreducegcp_spark.operators.sampling import _o_split

    naive = _o_split("CAST({d} AS VARCHAR)")
    return f"""
WITH pairs AS (SELECT doc_a, doc_b FROM ({_JACCARD_ORACLE.strip()})),
manifest AS ({_keep_oracle().strip()}),
safe AS (
  SELECT doc_id,
         {_o_split("CAST(coalesce(representative, doc_id) AS VARCHAR)")} AS safe_split
  FROM manifest
)
SELECT CAST(count(*) AS BIGINT) AS n_near_dup_pairs,
       CAST(sum(CASE WHEN {naive.format(d='doc_a')} <> {naive.format(d='doc_b')}
                THEN 1 ELSE 0 END) AS BIGINT) AS naive_cross_split_pairs,
       CAST(sum(CASE WHEN sa.safe_split <> sb.safe_split THEN 1 ELSE 0 END)
            AS BIGINT) AS group_keyed_cross_split_pairs
FROM pairs
JOIN safe sa ON doc_a = sa.doc_id
JOIN safe sb ON doc_b = sb.doc_id
"""


@register("split_leakage_audit", oracle=_leakage_audit_oracle(), tags=("llm-pipeline",))
def q_split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantifies the leakage a doc-id-keyed split causes: of all
    near-dup pairs (shingle Jaccard >= threshold), how many STRADDLE
    train/val/test under the naive per-document hash split
    (split_train_val_test's rule applied per doc) versus under the
    dedup-group-keyed split (split_leakage_safe). BOTH counts are
    computed from the actual assignments and re-derived by the oracle
    — deliberately NOT asserting the group-keyed count is zero: the
    manifest's exact-over-near precedence can split one near-dup
    cluster across group keys (an exact-dup group nested inside a
    larger near-dup cluster takes the exact rep), so the group-keyed
    split is a large REDUCTION, not an absolute guarantee, and the
    audit is what measures the residual every round.

    Scale: pair set and manifest are the dedup pass's own outputs
    (vertex-sized); the audit is two hash-bucket map columns and one
    conditional rollup on top."""
    from mapreducegcp_spark.operators.dedup import jaccard_pair_graph
    from mapreducegcp_spark.operators.sampling import split_of

    # one pair graph for BOTH consumers — the audit's straddle join and
    # the manifest's cluster resolution inside the safe split — AND for
    # every sibling dedup-cluster query in the session (the shared
    # checkpointed edge set; the expensive shingle self-join runs once)
    pairs = jaccard_pair_graph(spark, sf_dir)

    def naive_split(col: str):
        return split_of(F.col(col).cast("string"))

    # NOT checkpointed: a localCheckpoint on the 2-column assignment
    # measured 1.07x slower (round-12 interleaved min-of-6) — the two
    # pair-side derivations overlap and the resolution subtree is
    # vertex-sized, so duplicating it is cheaper than serializing it
    safe = q_split_leakage_safe(spark, sf_dir, pairs=pairs).select(
        F.col("doc_id"), F.col("split").alias("safe_split")
    )
    sa = safe.select(F.col("doc_id").alias("doc_a"), F.col("safe_split").alias("safe_a"))
    sb = safe.select(F.col("doc_id").alias("doc_b"), F.col("safe_split").alias("safe_b"))
    audited = (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            (naive_split("doc_a") != naive_split("doc_b")).alias("naive_cross"),
            (F.col("safe_a") != F.col("safe_b")).alias("safe_cross"),
        )
    )
    return audited.agg(
        F.count("*").alias("n_near_dup_pairs"),
        F.sum(F.when(F.col("naive_cross"), 1).otherwise(0)).alias(
            "naive_cross_split_pairs"
        ),
        F.sum(F.when(F.col("safe_cross"), 1).otherwise(0)).alias(
            "group_keyed_cross_split_pairs"
        ),
    )


# --------------------------- capstone: corpus -> training dataset

def _training_dataset_oracle() -> str:
    from mapreducegcp_spark.operators.sampling import _o_bucket, _o_split
    from mapreducegcp_spark.operators.training import PACK_SHARDS, SEQ_BUDGET

    manifest = _keep_oracle().strip()
    split = _o_split("CAST(k.doc_id AS VARCHAR)")
    shard = _o_bucket("CAST(k.doc_id AS VARCHAR)", PACK_SHARDS)
    return f"""
WITH manifest AS ({manifest}),
scored AS (
  SELECT doc_id, lang, text, len({_TOKS}) AS n_tokens FROM documents
),
cleaned AS (
  SELECT doc_id, n_tokens,
         row_number() OVER (
           PARTITION BY sha256(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))
           ORDER BY doc_id) AS rn
  FROM scored WHERE n_tokens >= {MIN_TOKENS} AND lang = 'en'
),
k AS (
  SELECT c.doc_id, c.n_tokens
  FROM cleaned c JOIN manifest m ON c.doc_id = m.doc_id
  WHERE c.rn = 1 AND m.decision = 'keep'
),
cuts AS (
  SELECT {o_pct('l', 0.25)} AS q1,
         {o_pct('l', 0.50)} AS q2,
         {o_pct('l', 0.75)} AS q3
  FROM (SELECT {o_sorted_list('n_tokens')} AS l FROM k)
),
assigned AS (
  SELECT k.doc_id, k.n_tokens,
         {split} AS split,
         CASE WHEN k.n_tokens <= c.q1 THEN 1 WHEN k.n_tokens <= c.q2 THEN 2
              WHEN k.n_tokens <= c.q3 THEN 3 ELSE 4 END AS phase,
         {shard} AS shard
  FROM k, cuts c
),
packed AS (
  SELECT split, phase, shard, n_tokens,
         sum(n_tokens) OVER (PARTITION BY split, phase, shard ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM assigned
)
SELECT split, phase, shard,
       CAST(floor((cum - n_tokens) / {SEQ_BUDGET}.0) AS BIGINT) AS seq_id,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS seq_tokens
FROM packed
GROUP BY split, phase, shard, seq_id
"""


@register("pipeline_training_dataset", oracle=_training_dataset_oracle(), tags=("llm-pipeline",))
def q_pipeline_training_dataset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full corpus -> training-ready dataset composition, ONE plan:
    quality filter + language slice + normalized exact dedup
    (_cleaned_docs) -> fuzzy keep/drop via the exact+near dedup
    manifest -> leakage-safe hash split on the dedup group -> length-
    curriculum phase from survivor quartiles -> concat-and-chunk
    sequence packing per (split, phase, shard) -> the manifest a
    dataloader consumes. Every stage is an operator the catalog checks
    standalone; this query is the proof they COMPOSE — the reference
    needed one Master round-trip per stage (Master/Master.py:61-94),
    this is a single Catalyst DAG with no materialization between
    stages beyond the dedup pass's own pair graph.

    Scale: inherits each stage's argument — filters before wide ops,
    dedup via bucketed LSH-gradeable pair graph (here the exact one),
    splits/shards as map-side hashes, packing parallel over
    (split, phase, shard) streams. Survivor quartiles are one
    distributed percentile, broadcast."""
    from mapreducegcp_spark.operators.sampling import md5_bucket, split_of
    from mapreducegcp_spark.operators.training import PACK_SHARDS, SEQ_BUDGET

    docs = load_table(spark, sf_dir, "documents")
    cleaned = _cleaned_docs(docs).select("doc_id", "n_tokens")
    manifest = q_dedup_keep_manifest(spark, sf_dir)
    # kept feeds BOTH the quartile aggregate and the phase assignment;
    # without the checkpoint each consumer re-derives the whole
    # clean+manifest-join subtree (documents tokenized 4x —
    # history/plans/r12/pipeline_training_dataset_before.txt). Lazy
    # localCheckpoint materializes the narrow (doc_id, n_tokens)
    # survivors once.
    kept = cleaned.join(
        manifest.where(F.col("decision") == "keep").select("doc_id"), "doc_id"
    ).localCheckpoint(eager=False)
    cuts = kept.agg(
        F.expr("percentile(n_tokens, array(0.25D, 0.50D, 0.75D))").alias("qs")
    ).select(
        F.col("qs")[0].alias("q1"), F.col("qs")[1].alias("q2"), F.col("qs")[2].alias("q3")
    )
    assigned = kept.crossJoin(F.broadcast(cuts)).select(
        "doc_id",
        "n_tokens",
        split_of(F.col("doc_id").cast("string")).alias("split"),
        F.when(F.col("n_tokens") <= F.col("q1"), 1)
        .when(F.col("n_tokens") <= F.col("q2"), 2)
        .when(F.col("n_tokens") <= F.col("q3"), 3)
        .otherwise(4)
        .alias("phase"),
        md5_bucket(F.col("doc_id").cast("string"), PACK_SHARDS).alias("shard"),
    )
    w = (
        Window.partitionBy("split", "phase", "shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    seq = F.floor((cum - F.col("n_tokens")) / float(SEQ_BUDGET)).cast("long")
    return (
        assigned.withColumn("seq_id", seq)
        .groupBy("split", "phase", "shard", "seq_id")
        .agg(F.count("*").alias("n_docs"), F.sum("n_tokens").alias("seq_tokens"))
    )
