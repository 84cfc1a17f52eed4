"""Registry chunk 2/4 — curation / sampling / incremental-index / SCD families.

Split from the monolithic queries.py in round 9 (registry
hygiene past 8k lines). REGISTRATION ORDER IS THE CONTRACT:
the package __init__ imports the chunks in numeric order, so
the driver-window ordering (queries()[:50]) is unchanged —
byte-identical registry fingerprint asserted at split time.
Appends go to the LAST chunk (or a new one); never reorder.
"""

from __future__ import annotations

import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from mysql_syncer_spark.canon import (
    HASH_COL,
    duckdb_row_hash_expr,
    row_hash_col,
    with_row_hash,
)
from mysql_syncer_spark.diff import (
    changed_rows,
    excess_rows,
    merge_tables,
    missing_rows,
    rows_to_copy,
)
from mysql_syncer_spark.operators import (
    dedup,
    packing,
    sampling,
    similarity,
    text,
)
from mysql_syncer_spark.sources.catalog import load_table


from mysql_syncer_spark.queries._base import (  # noqa: F401
    ORDERS_COLS,
    QueryFn,
    TABLE_KINDS,
    _LINEITEM_HASH,
    _ORDERS_HASH,
    _SLAVE_ORDERS_SQL,
    _duck_hash_sum,
    _register,
    _slave_orders,
)

from mysql_syncer_spark.queries._part1 import _ingest_gate_indexed  # noqa: F401
from mysql_syncer_spark.queries._part1 import _ingest_pair  # noqa: F401
from mysql_syncer_spark.queries._part1 import _SIMHASH_CTE  # noqa: F401
from mysql_syncer_spark.queries._part1 import _minhash_between_oracle_sql  # noqa: F401
from mysql_syncer_spark.queries._part1 import _DOC_BUCKET_SQL  # noqa: F401
from mysql_syncer_spark.queries._part1 import _NORM_SQL  # noqa: F401
from mysql_syncer_spark.queries._part1 import _incremental_oracle_sql  # noqa: F401


@_register("incremental_new_docs", _incremental_oracle_sql())
def incremental_new_docs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E44: the daily-ingest curation gate end-to-end — incoming rows
    (10% hash split of documents) that are neither exact-fingerprint
    copies nor MinHash-LSH near-dups of the corpus (the other 90%).
    Composes the broadcast fp anti-join with the O(corpus x batch)
    bipartite LSH anti-join (dedup.incremental_new_docs)."""
    corpus, incoming = _ingest_pair(spark, sf_dir, 9000)
    return dedup.incremental_new_docs(
        corpus, incoming, num_hashes=16, bands=4, threshold=0.7
    )


@_register("incremental_new_docs_indexed", _incremental_oracle_sql())
def incremental_new_docs_indexed_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E44b: the daily-ingest gate served from the PERSISTED MinHash
    index — identical output to incremental_new_docs, but the corpus is
    never scanned/shingled/signed at query time: the candidate join
    reads the (band,bucket)-bucketed index table (zero corpus Exchange)
    and the verify join reads the id-bucketed signature table. First
    call in a session builds the index (the amortized one-time layout
    job); every later call is O(batch)."""
    return _ingest_gate_indexed(spark, sf_dir, 9000)


@_register("incremental_ingest_2pct", _incremental_oracle_sql(split=9800))
def incremental_ingest_2pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E44 at realistic ingest economics: 98% corpus vs 2% batch
    (corpus:batch 49:1 — a daily crawl against an accumulated store).
    The recompute path re-shingles/re-signs the WHOLE corpus every
    batch, so its cost is O(corpus); the bench pairs this key with
    incremental_ingest_2pct_indexed to measure the indexed O(batch)
    advantage at a ratio where it shows (the 90/10 split's 9:1 ratio
    understates it — VERDICT r5)."""
    corpus, incoming = _ingest_pair(spark, sf_dir, 9800)
    return dedup.incremental_new_docs(
        corpus, incoming, num_hashes=16, bands=4, threshold=0.7
    )


@_register(
    "incremental_ingest_2pct_indexed", _incremental_oracle_sql(split=9800)
)
def incremental_ingest_2pct_indexed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """E45 at realistic ingest economics: the same 98/2 gate served
    from the persisted MinHash index — identical output, zero corpus
    re-shingle per batch."""
    return _ingest_gate_indexed(spark, sf_dir, 9800)


@_register(
    "bigram_logprob_docs",
    f"""WITH toks AS (
          SELECT doc_id,
                 list_filter(string_split({_NORM_SQL}, ' '),
                             x -> x != '') AS ts
          FROM documents),
         bg AS (
          SELECT doc_id, p.w1 AS w1, p.w2 AS w2 FROM (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(ts)),
                          i -> struct_pack(w1 := ts[i], w2 := ts[i+1])))
                       AS p
            FROM toks WHERE len(ts) >= 2)),
         cnt AS (SELECT w1, w2, COUNT(*) AS c FROM bg GROUP BY 1, 2),
         ctx AS (SELECT w1, SUM(c) AS t FROM cnt GROUP BY 1),
         probs AS (
          SELECT w1, w2, log10(c * 1.0 / t) AS lp
          FROM cnt JOIN ctx USING (w1)),
         per AS (
          SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n,
                 ROUND(AVG(lp), 6) AS avg
          FROM bg JOIN probs USING (w1, w2) GROUP BY doc_id)
        SELECT d.doc_id,
               COALESCE(p.n, 0) AS n_bigrams,
               p.avg AS logprob
        FROM documents d LEFT JOIN per p ON p.doc_id = d.doc_id""",
)
def bigram_logprob_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E84: corpus-bigram LM quality score (order-sensitive CCNet-style
    signal — scrambled word salad scores low even when every word is
    common). See operators/text.with_bigram_logprob for the plan
    shape."""
    from mysql_syncer_spark.operators.text import with_bigram_logprob

    docs = load_table(spark, sf_dir, "documents")
    return with_bigram_logprob(docs)


@_register("bpe_tokens_docs")
def bpe_tokens_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E85: BPE tokenizer — merge table TRAINED on the corpus itself
    (iterative distributed pair-count argmax over the distinct-word
    table, operators/bpe.py), then Arrow-encoded. No SQL oracle
    (iterative training is not one query — rows-only here, like the
    IVF rows); exactness is pytest-gated against an independent
    pure-Python reference trainer (tests/test_bpe.py). Every call
    trains the merges, then encodes."""
    from mysql_syncer_spark.operators.bpe import bpe_encode, bpe_train

    docs = load_table(spark, sf_dir, "documents")
    merges = bpe_train(docs, num_merges=20, min_freq=2)
    return bpe_encode(docs, merges).select(
        "doc_id", "n_bpe_tokens",
        # Surfaced as a string: the driver's pandas canonicalizer
        # sort_values cannot hash list columns (r10 window TypeError).
        F.concat_ws(" ", F.slice("bpe_tokens", 1, 5)).alias("first_tokens"),
    )


@_register(
    "epoch_shuffle_docs",
    f"""SELECT doc_id, {sampling.duckdb_epoch_shuffle_sql("doc_id", 3, 8)}
        FROM documents""",
)
def epoch_shuffle_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E83: deterministic per-epoch training order — every doc dealt
    into one of 8 trainer shards and numbered within its shard, with
    both the deal and the order reshuffling completely between epochs
    (md5(epoch#key) order key). One shard shuffle + per-shard sort
    window; reproducible across engines, which is exactly what the
    oracle checks (epoch 3 here)."""
    docs = load_table(spark, sf_dir, "documents")
    return sampling.epoch_shuffle(docs, "doc_id", epoch=3).select(
        "doc_id", "shard", "epoch_pos"
    )


@_register(
    "bloom_new_docs_gate",
    f"""WITH sides AS (
          SELECT doc_id,
                 CASE WHEN {{bucket}} < 9000 THEN 0 ELSE 1 END AS side
          FROM documents),
         corpus_fp AS (
          SELECT DISTINCT md5({{norm}}) AS fp
          FROM documents d JOIN sides s ON s.doc_id = d.doc_id AND s.side = 0)
        SELECT d.* FROM documents d
        JOIN sides s ON s.doc_id = d.doc_id AND s.side = 1
        WHERE md5({{norm}}) NOT IN (SELECT fp FROM corpus_fp)""".format(
        bucket=_DOC_BUCKET_SQL, norm=_NORM_SQL
    ),
)
def bloom_new_docs_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E82: Bloom-prefiltered exact-dedup ingest gate — incoming docs
    (10% hash split) not fingerprint-present in the corpus (90%). The
    corpus fp set is compressed into a fixed-size distributed bit
    array (operators/bloom.py): definitely-new docs skip the exact
    anti-join entirely (Bloom negatives are exact), only the ~FP-rate
    sliver joins — so the composition is OUTPUT-IDENTICAL to the plain
    anti-join, which is exactly what the oracle checks."""
    from mysql_syncer_spark.operators.bloom import bloom_new_docs

    corpus, incoming = _ingest_pair(spark, sf_dir, 9000)
    return bloom_new_docs(corpus, incoming)


def _profile_oracle_sql() -> str:
    """Per-column UNION ALL mirror of operators/profile.py with the
    identical min/max stringification rule (doubles through
    DECIMAL(28,6) so both engines print '123.450000')."""
    parts = []
    for c, kind in TABLE_KINDS["orders"]:
        if kind == "double":
            mn = f"CAST(CAST(ROUND(MIN({c}), 6) AS DECIMAL(28,6)) AS VARCHAR)"
            mx = f"CAST(CAST(ROUND(MAX({c}), 6) AS DECIMAL(28,6)) AS VARCHAR)"
        else:
            mn, mx = f"CAST(MIN({c}) AS VARCHAR)", f"CAST(MAX({c}) AS VARCHAR)"
        parts.append(
            f"""SELECT '{c}' AS "column", COUNT(*) AS n_rows,
                   COUNT(*) - COUNT({c}) AS n_nulls,
                   COUNT(DISTINCT {c}) AS n_distinct,
                   {mn} AS min_value, {mx} AS max_value FROM orders"""
        )
    return " UNION ALL ".join(parts)


@_register("profile_orders", _profile_oracle_sql())
def profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E49: single-pass data-quality profile — per-column null counts,
    exact distincts, deterministic min/max — the audit a corpus gets
    before anything trains on it. One scan regardless of column count
    (one Expand + one combinable shuffle for the multi-distinct)."""
    from mysql_syncer_spark.operators.profile import profile_table

    return profile_table(load_table(spark, sf_dir, "orders"))


@_register("minhash_pairs_between_docs", _minhash_between_oracle_sql())
def minhash_pairs_between_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E43: incremental-ingest dedup shape — bipartite MinHash-LSH
    between a 90% 'corpus' and 10% 'incoming' hash split of documents:
    O(corpus x batch) banded-bucket join, never re-pairing the corpus
    against itself. Oracle mirrors the split and every hash."""
    docs = load_table(spark, sf_dir, "documents")
    b = sampling.hash_bucket("doc_id")
    corpus = docs.where(b < 9000)
    incoming = docs.where(b >= 9000)
    return dedup.minhash_lsh_pairs_between(
        corpus, incoming, num_hashes=16, bands=4, threshold=0.7
    )


@_register(
    "mixture_sample_docs",
    f"""WITH w(source, wt) AS (VALUES
            ('src0', 0.4::DOUBLE), ('src1', 0.3::DOUBLE),
            ('src2', 0.2::DOUBLE), ('src3', 0.1::DOUBLE)),
         c AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
         cw AS (SELECT c.source, c.n, w.wt FROM c JOIN w USING (source)),
         t AS (SELECT MIN(n / wt) AS t FROM cw),
         q AS (SELECT source,
                      CAST(FLOOR(wt * (SELECT t FROM t)) AS BIGINT) AS quota
               FROM cw)
        SELECT doc_id, source FROM documents JOIN q USING (source)
        QUALIFY ROW_NUMBER() OVER (
            PARTITION BY source
            ORDER BY {sampling.duckdb_hash_bucket_sql("doc_id")}, doc_id
        ) <= quota""",
)
def mixture_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E51: domain-mixture resampling — output shares match the target
    40/30/20/10 mixture over four sources at the largest total the data
    allows (bottleneck source kept whole, others downsampled by
    deterministic key-hash rank). The pretraining "data mixing" step;
    quotas are computed in-plan (tiny agg → broadcast), never collected."""
    docs = load_table(spark, sf_dir, "documents")
    out = sampling.mixture_sample(
        docs, "source", "doc_id",
        {"src0": 0.4, "src1": 0.3, "src2": 0.2, "src3": 0.1},
    )
    return out.select("doc_id", "source")


@_register(
    "chunk_docs",
    r"""WITH t AS (
          SELECT doc_id,
                 CASE WHEN trim(text) = '' THEN []
                      ELSE regexp_split_to_array(trim(text), '\s+')
                 END AS toks
          FROM documents),
         s AS (SELECT doc_id, toks, len(toks) AS n FROM t),
         c AS (SELECT doc_id, toks,
                      1 + CAST(FLOOR((GREATEST(0, n - 32) + 23) / 24.0)
                               AS INT) AS nc
               FROM s),
         e AS (SELECT doc_id, toks,
                      unnest(generate_series(0, CAST(nc - 1 AS BIGINT))) AS g
               FROM c)
        SELECT doc_id, CAST(g AS INT) AS chunk_id,
               array_to_string(toks[g*24+1 : g*24+32], ' ') AS chunk_text,
               CAST(len(toks[g*24+1 : g*24+32]) AS INT) AS n_chunk_tokens
        FROM e""",
)
def chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E52: context-window chunking — every doc exploded into 32-token
    windows advancing 24 tokens (8-token overlap), last window always
    reaching the final token. The complement of sequence packing: long
    docs are split DOWN to the training budget. Pure row-local builtins
    (split → sequence-explode → slice) — zero shuffle at any scale."""
    from mysql_syncer_spark.operators.chunk import chunk_documents

    docs = load_table(spark, sf_dir, "documents")
    return chunk_documents(docs, chunk_tokens=32, stride=24)


_SEMANTIC_COS_SQL = (
    "list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) / "
    "(sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) * "
    "sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])))"
)


@_register(
    "semantic_dedup_embeddings",
    f"""WITH RECURSIVE prs AS (
          SELECT a.vec_id AS id_a, b.vec_id AS id_b
          FROM embeddings a JOIN embeddings b
            ON a.label = b.label AND a.vec_id < b.vec_id
          WHERE {_SEMANTIC_COS_SQL} >= 0.35),
         edges AS (SELECT id_a AS src, id_b AS dst FROM prs
                   UNION SELECT id_b, id_a FROM prs),
         reach(src, dst) AS (
          SELECT src, src FROM edges
          UNION
          SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
         comp AS (SELECT src AS vec_id, MIN(dst) AS cid
                  FROM reach GROUP BY src)
        SELECT e.vec_id, e.label
        FROM embeddings e LEFT JOIN comp c ON c.vec_id = e.vec_id
        WHERE c.vec_id IS NULL OR c.cid = e.vec_id""",
)
def semantic_dedup_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E53: SemDeDup — semantic deduplication over embeddings: blocked
    cosine near-dup pairs (≥ 0.35 within label blocks) → connected
    components → keep ONE representative (min id) per component plus
    all unpaired rows. Catches paraphrases/re-encodings that share no
    n-grams with their duplicate. Oracle: recursive-CTE transitive
    closure over the identical pair set."""
    emb = load_table(spark, sf_dir, "embeddings")
    kept = dedup.semantic_dedup(emb, threshold=0.35)
    return kept.select("vec_id", "label")


@_register(
    "dedup_keep_best_docs",
    f"""WITH RECURSIVE {_SIMHASH_CTE},
         prs AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b
          FROM sims a JOIN sims b ON a.doc_id < b.doc_id
          WHERE bit_count(xor(a.simhash, b.simhash)) <= 1),
         cedges AS (SELECT id_a AS src, id_b AS dst FROM prs
                    UNION SELECT id_b, id_a FROM prs),
         reach(src, dst) AS (
          SELECT src, src FROM cedges
          UNION
          SELECT r.src, e.dst FROM reach r JOIN cedges e ON r.dst = e.src),
         comp AS (SELECT src AS doc_id, MIN(dst) AS cluster_id
                  FROM reach GROUP BY src),
         losers AS (
          SELECT doc_id FROM (
            SELECT c.doc_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY c.cluster_id
                       ORDER BY d.n_chars DESC, c.doc_id) AS rn
            FROM comp c JOIN documents d USING (doc_id))
          WHERE rn > 1)
        SELECT doc_id, n_chars FROM documents
        WHERE doc_id NOT IN (SELECT doc_id FROM losers)""",
)
def dedup_keep_best_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E54: quality-aware near-dup survivor selection — SimHash
    Hamming ≤ 1 pairs → connected components → per cluster keep the
    LONGEST member (ties: min id) instead of the arbitrary min-id one.
    The rank window shuffles only clustered rows (a tiny fraction of
    the corpus); survivors anti-join back. Oracle: the same closure +
    ROW_NUMBER over (n_chars DESC, doc_id)."""
    from mysql_syncer_spark.operators.cluster import (
        cluster_keep_best,
        simhash_duplicate_clusters,
    )

    docs = load_table(spark, sf_dir, "documents")
    clusters = simhash_duplicate_clusters(docs, max_bits=1)
    return cluster_keep_best(docs, clusters, "n_chars").select(
        "doc_id", "n_chars"
    )


@_register(
    "shard_stats_docs",
    f"""SELECT CAST({sampling.duckdb_hash_bucket_sql("doc_id")} % 8 AS INT)
              AS shard,
              COUNT(*) AS n_rows,
              CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS total_size
       FROM documents GROUP BY 1""",
)
def shard_stats_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E55: training-shard manifest — deterministic md5-bucket doc→shard
    assignment over 8 shards with per-shard row/char totals, the balance
    check and read-plan manifest of the shard export sink
    (sinks/shards.write_training_shards). One combinable groupBy over 8
    keys; assignment is row-local codegen."""
    from mysql_syncer_spark.sinks.shards import shard_stats

    docs = load_table(spark, sf_dir, "documents")
    return shard_stats(docs, "doc_id", 8, size_col="n_chars")


@_register(
    "gap_fill_daily_events",
    """WITH hourly AS (
          SELECT user_id, date_trunc('day', ts) AS bucket,
                 COUNT(*) AS n,
                 (max(struct_pack(t := ts, v := value))).v AS last_v
          FROM events GROUP BY 1, 2),
         span AS (SELECT user_id, MIN(bucket) AS lo, MAX(bucket) AS hi
                  FROM hourly GROUP BY 1),
         grid AS (SELECT user_id,
                         unnest(generate_series(lo, hi, INTERVAL 1 DAY))
                             AS bucket
                  FROM span)
        SELECT g.user_id, g.bucket,
               COALESCE(h.n, 0) AS n_events,
               last_value(h.last_v IGNORE NULLS) OVER (
                   PARTITION BY g.user_id ORDER BY g.bucket
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS value_ffill
        FROM grid g LEFT JOIN hourly h USING (user_id, bucket)""",
)
def gap_fill_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E56: time-series regularization — one row per user per DAY
    between the user's first and last event, zero-count silent days,
    last observed value forward-filled across gaps (struct-max pick:
    deterministic, engine-exact, no arithmetic on the carried double).
    All exchanges hash the user/bucket domain; the grid explode is
    row-local."""
    from mysql_syncer_spark.operators.timeseries import resample_gap_fill

    events = load_table(spark, sf_dir, "events")
    return resample_gap_fill(
        events, "user_id", "ts", "value", step="day"
    )


@_register(
    "scrub_repeated_spans_docs",
    r"""WITH t AS (
          SELECT doc_id,
                 CASE WHEN trim(text) = '' THEN []
                      ELSE regexp_split_to_array(trim(text), '\s+')
                 END AS toks
          FROM documents),
         s AS (SELECT doc_id, toks, len(toks) AS n FROM t),
         e AS (SELECT doc_id, toks,
                      unnest(generate_series(
                          0, CAST(FLOOR((n + 7) / 8.0) AS BIGINT) - 1)) AS g
               FROM s WHERE n > 0),
         sp AS (SELECT doc_id, g,
                       array_to_string(toks[g*8+1 : g*8+8], ' ') AS span
                FROM e),
         freq AS (SELECT span
                  FROM (SELECT DISTINCT span, doc_id FROM sp)
                  GROUP BY span HAVING COUNT(*) >= 2),
         kept AS (SELECT sp.doc_id, sp.g, sp.span FROM sp
                  WHERE sp.span NOT IN (SELECT span FROM freq)),
         re AS (SELECT doc_id, string_agg(span, ' ' ORDER BY g) AS txt,
                       COUNT(*) AS nk
                FROM kept GROUP BY doc_id),
         tot AS (SELECT doc_id, COUNT(*) AS ns FROM sp GROUP BY doc_id)
        SELECT d.doc_id,
               COALESCE(re.txt, '') AS text_clean,
               COALESCE(tot.ns, 0) AS n_spans,
               COALESCE(tot.ns, 0) - COALESCE(re.nk, 0) AS n_spans_removed
        FROM documents d
        LEFT JOIN tot ON tot.doc_id = d.doc_id
        LEFT JOIN re ON re.doc_id = d.doc_id""",
)
def scrub_repeated_spans_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E57: cross-document repeated-span removal (C4/RefinedWeb
    boilerplate scrub) — every 8-token span occurring in >= 2 distinct
    documents is deleted from ALL documents; survivors are stitched
    back in order. The blocklist is boilerplate-sized and broadcast;
    the span stream shuffles only for the combinable doc-frequency agg
    and the per-doc reassembly."""
    from mysql_syncer_spark.operators.lines import remove_repeated_spans

    docs = load_table(spark, sf_dir, "documents")
    return remove_repeated_spans(docs, span_tokens=8, min_docs=2)


@_register(
    "gopher_quality_docs",
    r"""WITH t AS (
          SELECT doc_id, text,
                 CASE WHEN trim(text) = '' THEN []
                      ELSE regexp_split_to_array(trim(text), '\s+')
                 END AS toks,
                 string_split(text, chr(10)) AS lns
          FROM documents),
         m AS (SELECT doc_id, text,
                      len(toks) AS nw,
                      CAST(GREATEST(len(toks), 1) AS DOUBLE) AS sw,
                      COALESCE(list_sum(
                          list_transform(toks, x -> length(x))), 0)
                          AS chrs,
                      len(regexp_extract_all(text, '#|\.\.\.|…')) AS nsym,
                      len(list_filter(toks,
                          x -> regexp_matches(x, '[A-Za-z]'))) AS alphaw,
                      len(list_distinct(list_transform(
                          list_filter(toks, x -> lower(x) IN
                          ('the','a','of','and','is','to','in')),
                          x -> lower(x)))) AS stop,
                      CAST(GREATEST(len(lns), 1) AS DOUBLE) AS nl,
                      len(list_filter(lns, x -> regexp_matches(
                          rtrim(x), '(\.\.\.|…)$'))) AS ell,
                      len(list_filter(lns, x -> regexp_matches(
                          ltrim(x), '^[-*•]'))) AS bull
               FROM t),
         f AS (SELECT doc_id,
                      (text IS NOT NULL AND nw >= 30 AND nw <= 100000)
                          AS r_wc,
                      (text IS NOT NULL AND chrs / sw >= 3.0
                          AND chrs / sw <= 10.0) AS r_mwl,
                      (text IS NOT NULL AND nsym / sw <= 0.1) AS r_sym,
                      (text IS NOT NULL AND alphaw / sw >= 0.8) AS r_alpha,
                      (text IS NOT NULL AND stop >= 2) AS r_stop,
                      (text IS NOT NULL AND ell / nl <= 0.3) AS r_ell,
                      (text IS NOT NULL AND bull / nl <= 0.9) AS r_bull
               FROM m)
        SELECT doc_id,
               CAST(r_wc AS INT) AS rule_word_count,
               CAST(r_mwl AS INT) AS rule_mean_word_len,
               CAST(r_sym AS INT) AS rule_symbol_ratio,
               CAST(r_alpha AS INT) AS rule_alpha_words,
               CAST(r_stop AS INT) AS rule_stopwords,
               CAST(r_ell AS INT) AS rule_ellipsis_lines,
               CAST(r_bull AS INT) AS rule_bullet_lines,
               CAST(r_wc AND r_mwl AND r_sym AND r_alpha AND r_stop
                    AND r_ell AND r_bull AS INT) AS gopher_keep
        FROM f""",
)
def gopher_quality_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E58: the Gopher quality rule set (Rae et al. 2021, A1) — the
    standard pretraining keep/drop filter: word-count bounds, mean word
    length, symbol ratio, alpha-word fraction, stopword floor,
    ellipsis/bullet line caps. Pure codegen ratio arithmetic; zero
    shuffle at any scale. Flags surfaced as INT 0/1 for cross-engine
    hash stability."""
    from mysql_syncer_spark.operators.spread import spread_small
    from mysql_syncer_spark.operators.text import with_gopher_rules

    # zero-shuffle query: with no exchange anywhere, the regex/ratio
    # map work inherits the scan's task count — spread a small scan
    # (per-row pure rules; placement cannot change any flag)
    docs = spread_small(load_table(spark, sf_dir, "documents"))
    out = with_gopher_rules(docs, min_words=30)
    flags = [
        "rule_word_count", "rule_mean_word_len", "rule_symbol_ratio",
        "rule_alpha_words", "rule_stopwords", "rule_ellipsis_lines",
        "rule_bullet_lines", "gopher_keep",
    ]
    return out.select(
        "doc_id", *[F.col(fl).cast("int").alias(fl) for fl in flags]
    )


@_register(
    "unigram_logprob_docs",
    r"""WITH w AS (
          SELECT doc_id, unnest(string_split(
                     regexp_replace(trim(lower(text)), '\s+', ' ', 'g'),
                     ' ')) AS term
          FROM documents),
         wf AS (SELECT doc_id, term FROM w WHERE term <> ''),
         v AS (SELECT term, COUNT(*) AS c FROM wf GROUP BY term),
         tot AS (SELECT SUM(c) AS t FROM v),
         s AS (SELECT wf.doc_id,
                      LOG10(CAST(v.c AS DOUBLE) / (SELECT t FROM tot)) AS lp
               FROM wf JOIN v USING (term)),
         p AS (SELECT doc_id, COUNT(*) AS n, ROUND(AVG(lp), 6) AS avg_lp
               FROM s GROUP BY doc_id)
        SELECT d.doc_id,
               COALESCE(p.n, 0) AS n_tokens,
               p.avg_lp AS logprob
        FROM documents d LEFT JOIN p ON p.doc_id = d.doc_id""",
)
def unigram_logprob_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E59: CCNet-style unigram LM quality score — per-doc mean log10
    probability under the corpus' own unigram distribution; gibberish
    and wrong-language fragments score low. Vocab counted in one
    combinable shuffle, broadcast back onto the token stream, one
    per-doc mean shuffle; the whole thing is a single Spark job."""
    from mysql_syncer_spark.operators.text import with_unigram_logprob

    docs = load_table(spark, sf_dir, "documents")
    return with_unigram_logprob(docs)


@_register(
    "interval_join_error_windows",
    """SELECT p.event_id, p.ts, w.window_id, w.w_start
       FROM events p
       JOIN (SELECT event_id AS window_id, ts AS w_start,
                    ts + INTERVAL 1 MINUTE AS w_end
             FROM events WHERE event_type = 'error') w
         ON p.ts >= w.w_start AND p.ts < w.w_end""",
)
def interval_join_error_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E62: equi-key-free interval join — every event falling inside
    ANY 60-second post-error window, regardless of user. The naive plan
    is a BroadcastNestedLoopJoin (quadratic); the operator buckets the
    time axis so it runs as a plain hash join on the bucket id with an
    exact containment verify (each qualifying pair meets exactly once —
    no dedup pass)."""
    from mysql_syncer_spark.operators.interval import interval_join

    events = load_table(spark, sf_dir, "events")
    points = events.select("event_id", "ts")
    windows = events.where(F.col("event_type") == "error").select(
        F.col("event_id").alias("window_id"),
        F.col("ts").alias("w_start"),
        (F.col("ts") + F.expr("INTERVAL 1 MINUTE")).alias("w_end"),
    )
    out = interval_join(
        points, windows, "ts", "w_start", "w_end", bucket_seconds=60
    )
    return out.select("event_id", "ts", "window_id", "w_start")


def _jl_oracle_sql(in_dims: int = 64, out_dims: int = 8) -> str:
    """Mirror of operators/similarity.random_projection: the SQL is
    GENERATED from the same deterministic sign matrix (jl_signs), so
    both engines multiply by literal-identical ±1 columns."""
    from mysql_syncer_spark.operators.similarity import jl_signs

    signs = jl_signs(in_dims, out_dims)
    cols = []
    for j in range(out_dims):
        arr = "[" + ",".join(
            f"{float(signs[i][j]):.1f}" for i in range(in_dims)
        ) + "]"
        cols.append(
            f"ROUND(list_dot_product(embedding::DOUBLE[], "
            f"{arr}::DOUBLE[]) / sqrt({float(out_dims)}), 6) AS p{j}"
        )
    return "SELECT vec_id, " + ", ".join(cols) + " FROM embeddings"


@_register("jl_project_embeddings", _jl_oracle_sql())
def jl_project_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E63: Johnson-Lindenstrauss sign projection 64 -> 8 dims — the
    preprocessing that makes billion-scale vector search tractable
    (score/bucket/train on the projection, verify survivors on the full
    vectors). Per-row codegen arithmetic with the ±1 matrix baked into
    the plan as literals; zero shuffle."""
    from mysql_syncer_spark.operators.similarity import random_projection

    emb = load_table(spark, sf_dir, "embeddings")
    out = random_projection(emb, in_dims=64, out_dims=8)
    return out.select("vec_id", *[f"p{j}" for j in range(8)])


@_register(
    "cube_pricing_summary",
    """SELECT l_returnflag, l_linestatus,
              CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
              CAST(GROUPING(l_linestatus) AS INT) AS g_ls,
              COUNT(*) AS n,
              CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
                  AS sum_price
       FROM lineitem
       GROUP BY CUBE (l_returnflag, l_linestatus)""",
)
def cube_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E64/A-class: CUBE grouping sets — all four (returnflag,
    linestatus) aggregation levels in ONE pass: a single Expand node
    (4x row restatement of only the grouping+agg columns) feeding one
    map-side-combinable shuffle, vs four separate scans. GROUPING()
    ids disambiguate real NULL values from subtotal rows, exactly as
    the SQL standard (and the rollup_revenue sibling) define."""
    from mysql_syncer_spark.operators.spread import spread_small

    # the Expand (4× restatement) + partial aggregation run above the
    # single shuffle — spread a small scan so the map stage fills the
    # cluster (DECIMAL sums + counts: placement-independent)
    li = spread_small(load_table(spark, sf_dir, "lineitem"))
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping("l_returnflag").cast("int").alias("g_rf"),
            F.grouping("l_linestatus").cast("int").alias("g_ls"),
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_price"),
        )
        .select(
            "l_returnflag", "l_linestatus", "g_rf", "g_ls", "n", "sum_price"
        )
    )


@_register(
    "funnel_events",
    """WITH s0 AS (SELECT user_id, MIN(ts) AS t0 FROM events
                   WHERE event_type = 'view' GROUP BY user_id),
         s1 AS (SELECT e.user_id, MIN(e.ts) AS t1 FROM events e
                JOIN s0 USING (user_id)
                WHERE e.event_type = 'click' AND e.ts > s0.t0
                GROUP BY e.user_id),
         s2 AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM events e
                JOIN s1 USING (user_id)
                WHERE e.event_type = 'purchase' AND e.ts > s1.t1
                GROUP BY e.user_id)
        SELECT s0.user_id, s0.t0, s1.t1, s2.t2,
               CAST(1 + CASE WHEN t1 IS NULL THEN 0 ELSE 1 END
                      + CASE WHEN t2 IS NULL THEN 0 ELSE 1 END
                    AS INT) AS n_steps
        FROM s0
        LEFT JOIN s1 ON s1.user_id = s0.user_id
        LEFT JOIN s2 ON s2.user_id = s0.user_id""",
)
def funnel_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E66: ordered funnel (view -> click -> purchase) — per user the
    earliest greedy completion chain: t_i = min ts of step i STRICTLY
    after t_{i-1}; n_steps = consecutive stages reached. MATCH_RECOGNIZE
    semantics as a cascade of filtered conditional-min aggregations —
    each stage scans only its own step's events (filter pushed), one
    combinable key shuffle per stage, never a full-stream window."""
    from mysql_syncer_spark.operators.funnel import funnel

    events = load_table(spark, sf_dir, "events")
    out = funnel(
        events, "user_id", "ts", "event_type", ["view", "click", "purchase"]
    )
    return out.select(
        "user_id",
        F.col("t0"), F.col("t1"), F.col("t2"),
        F.col("n_steps").cast("int").alias("n_steps"),
    )


@_register(
    "cohort_retention_events",
    """WITH activity AS (
          SELECT DISTINCT user_id,
                 CAST(date_trunc('week', ts) AS DATE) AS p
          FROM events),
         first AS (SELECT user_id, MIN(p) AS cohort FROM activity
                   GROUP BY user_id)
        SELECT CAST(f.cohort AS TIMESTAMP) AS cohort,
               CAST(FLOOR(date_diff('day', f.cohort, a.p) / 7) AS INT)
                   AS "offset",
               COUNT(DISTINCT a.user_id) AS n_active
        FROM activity a JOIN first f ON a.user_id = f.user_id
        GROUP BY 1, 2""",
)
def cohort_retention_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E67: weekly cohort retention triangle — users grouped by their
    first-activity week, counted distinct in every later week offset.
    Everything past the first distinct scales with (keys x periods),
    never raw events."""
    from mysql_syncer_spark.operators.funnel import cohort_retention

    events = load_table(spark, sf_dir, "events")
    out = cohort_retention(events, "user_id", "ts", unit="week")
    # DATE stringifies differently across fetch paths (datetime.date vs
    # pandas Timestamp); TIMESTAMP prints identically in both — emit it
    return out.withColumn("cohort", F.col("cohort").cast("timestamp"))


@_register(
    "sliding_window_counts_events",
    """WITH w AS (
          SELECT event_type,
                 unnest([date_trunc('hour', ts)
                             + CASE WHEN minute(ts) >= 30
                                    THEN INTERVAL 30 MINUTE
                                    ELSE INTERVAL 0 MINUTE END,
                         date_trunc('hour', ts)
                             + CASE WHEN minute(ts) >= 30
                                    THEN INTERVAL 30 MINUTE
                                    ELSE INTERVAL 0 MINUTE END
                             - INTERVAL 30 MINUTE]) AS window_start
          FROM events)
        SELECT window_start, event_type, COUNT(*) AS n_events
        FROM w GROUP BY 1, 2""",
)
def sliding_window_counts_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E68/W-class: hopping-window aggregation — 1-hour windows sliding
    every 30 minutes, so each event lands in exactly two windows.
    Spark's native ``F.window(slideDuration)`` explodes the window set
    row-locally (output-sized fan-out, no extra shuffle beyond the one
    combinable agg); the oracle mirrors it by unnesting each event's
    two covering window starts."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
        )
    )


@_register(
    "quantize_embeddings",
    """WITH s AS (
          SELECT vec_id, embedding::DOUBLE[] AS v,
                 list_max(list_transform(embedding::DOUBLE[],
                                         x -> abs(x))) / 127.0 AS scale
          FROM embeddings),
         q AS (SELECT vec_id, v, scale,
                      CASE WHEN scale = 0
                           THEN list_transform(v, x -> 0)
                           ELSE list_transform(
                               v, x -> CAST(round(x / scale) AS INT))
                      END AS codes
               FROM s)
        SELECT vec_id,
               ROUND(scale, 6) AS q_scale,
               CAST(list_sum(codes) AS BIGINT) AS code_sum,
               CAST(list_max(list_transform(codes, c -> abs(c))) AS INT)
                   AS code_absmax,
               ROUND(list_max(list_transform(
                   generate_series(1, len(v)),
                   i -> abs(CAST(codes[i] AS DOUBLE) * scale - v[i]))), 6)
                   AS dq_err_max
        FROM q""",
)
def quantize_embeddings_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E70: symmetric per-vector int8 quantization — the 4-8x storage
    shrink an ANN store applies before indexing. Surfaced as scalars
    (scale, code sum, max |code|, max dequantization error) so the
    cross-engine check covers the quantize AND dequantize math; the
    error bound scale/2 is asserted in pytest. Pure codegen, zero
    shuffle."""
    from mysql_syncer_spark.operators.similarity import quantize_embeddings

    emb = load_table(spark, sf_dir, "embeddings")
    q = quantize_embeddings(emb)
    vec = F.col("embedding").cast("array<double>")
    err = F.array_max(
        F.zip_with(
            F.col("q"),
            vec,
            lambda c, x: F.abs(c.cast("double") * F.col("q_scale") - x),
        )
    )
    # materialize the error column BEFORE the projection that aliases a
    # rounded q_scale: Spark 4 lateral column aliases would otherwise
    # resolve the err expression's q_scale against the ROUNDED sibling
    # select item, skewing the error by the rounding delta
    q = q.withColumn("__err", err)
    return q.select(
        "vec_id",
        F.round("q_scale", 6).alias("q_scale"),
        F.aggregate("q", F.lit(0).cast("long"), lambda a, c: a + c)
        .alias("code_sum"),
        F.array_max(F.transform("q", F.abs)).cast("int").alias("code_absmax"),
        F.round("__err", 6).alias("dq_err_max"),
    )


@_register(
    "incremental_agg_orders",
    """WITH base AS (SELECT * FROM orders WHERE o_orderkey % 10 <> 0),
         delta AS (SELECT * FROM orders WHERE o_orderkey % 10 = 0)
        SELECT o_custkey,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
                   AS total_price,
               MAX(o_orderdate) AS last_order
        FROM (SELECT * FROM base UNION ALL SELECT * FROM delta)
        GROUP BY o_custkey""",
)
def incremental_agg_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E71: materialized-rollup maintenance — bootstrap the per-customer
    rollup from 90% of orders, then fold the remaining 10% in as a
    DELTA (old ⊕ agg(delta), one delta-sized shuffle + a groups-sized
    full-outer merge; the base is never rescanned). The oracle proves
    the folded rollup is EXACTLY the full recompute over base+delta."""
    from mysql_syncer_spark.operators.incremental_agg import (
        agg_snapshot,
        apply_agg_delta,
    )

    orders = load_table(spark, sf_dir, "orders")
    base = orders.where(F.col("o_orderkey") % 10 != 0)
    delta = orders.where(F.col("o_orderkey") % 10 == 0)
    measures = {
        "n_orders": ("count", "*"),
        "total_price": ("sum", "__price"),
        "last_order": ("max", "o_orderdate"),
    }
    # decimal sum both stages (ANSI-safe), surfaced as double like the
    # other revenue queries
    prep = lambda df: df.withColumn(
        "__price", F.col("o_totalprice").cast("decimal(18,6)")
    )
    rollup = agg_snapshot(prep(base), ["o_custkey"], measures)
    updated = apply_agg_delta(rollup, prep(delta), ["o_custkey"], measures)
    return updated.select(
        "o_custkey",
        F.col("n_orders").cast("long").alias("n_orders"),
        F.col("total_price").cast("double").alias("total_price"),
        "last_order",
    )


@_register(
    "winsorize_events_value",
    """WITH cuts AS (
          SELECT quantile_cont(value, 0.05) AS lo,
                 quantile_cont(value, 0.95) AS hi
          FROM events)
        SELECT event_id,
               ROUND(value, 6) AS value_r,
               ROUND(CASE WHEN value IS NULL THEN NULL
                          ELSE LEAST(GREATEST(value, lo), hi) END, 6)
                   AS value_w,
               CAST(CASE WHEN value IS NULL THEN 0
                         WHEN value < lo OR value > hi THEN 1 ELSE 0 END
                    AS INT) AS clipped
        FROM events, cuts""",
)
def winsorize_events_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E73: winsorization — clamp events.value outside its exact p05/p95
    percentiles and flag the clamped rows (the outlier treatment before
    a numeric feature feeds training). One scalar agg computes both cut
    points, crossJoin-broadcast back in-plan, codegen least/greatest —
    no driver collect, no second scan beyond the cuts agg."""
    from mysql_syncer_spark.operators.text import winsorize

    events = load_table(spark, sf_dir, "events")
    out = winsorize(events, "value", 0.05, 0.95, out_col="value_w")
    return out.select(
        "event_id",
        F.round(F.col("value").cast("double"), 6).alias("value_r"),
        F.round("value_w", 6).alias("value_w"),
        F.col("clipped").cast("int").alias("clipped"),
    )


# -- TPC-H classics (benchmark-suite rows; window full, exact-parity-
#    tested like every registered query) ------------------------------

@_register(
    "tpch_q1_pricing",
    """SELECT l_returnflag, l_linestatus,
              CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
                  AS sum_qty,
              CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
                  AS sum_base_price,
              CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))
                       * (1 - CAST(l_discount AS DECIMAL(18,6))))
                   AS DOUBLE) AS sum_disc_price,
              CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))
                       * (1 - CAST(l_discount AS DECIMAL(18,6)))
                       * (1 + CAST(l_tax AS DECIMAL(18,6))))
                   AS DOUBLE) AS sum_charge,
              ROUND(AVG(l_quantity), 6) AS avg_qty,
              ROUND(AVG(l_extendedprice), 6) AS avg_price,
              ROUND(AVG(l_discount), 6) AS avg_disc,
              COUNT(*) AS count_order
       FROM lineitem
       WHERE l_shipdate <= TIMESTAMP '1998-09-02'
       GROUP BY l_returnflag, l_linestatus""",
)
def tpch_q1_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 (pricing summary report) in full: the canonical
    scan-filter-agg benchmark — one pushed date filter, one combinable
    shuffle over 4 group cells, 8 aggregates; decimal accumulation
    (ANSI-safe) surfaced as double/rounded like the engine's other
    revenue queries."""
    li = load_table(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,6)")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(dec("l_extendedprice")).cast("double")
            .alias("sum_base_price"),
            F.sum(dec("l_extendedprice") * (F.lit(1) - dec("l_discount")))
            .cast("double").alias("sum_disc_price"),
            F.sum(
                dec("l_extendedprice")
                * (F.lit(1) - dec("l_discount"))
                * (F.lit(1) + dec("l_tax"))
            ).cast("double").alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@_register(
    "tpch_q3_shipping_priority",
    """SELECT l.l_orderkey,
              CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,6))
                       * (1 - CAST(l.l_discount AS DECIMAL(18,6))))
                   AS DOUBLE) AS revenue,
              o.o_orderdate
       FROM customer c
       JOIN orders o ON c.c_custkey = o.o_custkey
       JOIN lineitem l ON l.l_orderkey = o.o_orderkey
       WHERE c.c_mktsegment = 'BUILDING'
         AND o.o_orderdate < TIMESTAMP '1998-03-15'
         AND l.l_shipdate > TIMESTAMP '1998-03-15'
       GROUP BY l.l_orderkey, o.o_orderdate
       ORDER BY revenue DESC, o_orderdate, l_orderkey
       LIMIT 10""",
)
def tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 (shipping priority): segment-filtered customer dim
    broadcast into orders, lineitem joined on the order key, top-10 by
    revenue — filter pushdown + broadcast join + TakeOrderedAndProject,
    with the orderkey tie-break making the LIMIT deterministic."""
    c = load_table(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    dec = lambda col: F.col(col).cast("decimal(18,6)")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.sum(dec("l_extendedprice") * (F.lit(1) - dec("l_discount")))
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate")
    )


@_register(
    "tpch_q10_returned_items",
    """SELECT c.c_custkey, c.c_name,
              CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,6))
                       * (1 - CAST(l.l_discount AS DECIMAL(18,6))))
                   AS DOUBLE) AS revenue,
              n.n_name
       FROM customer c
       JOIN orders o ON c.c_custkey = o.o_custkey
       JOIN lineitem l ON l.l_orderkey = o.o_orderkey
       JOIN nation n ON c.c_nationkey = n.n_nationkey
       WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
         AND o.o_orderdate < TIMESTAMP '1997-04-01'
         AND l.l_returnflag = 'R'
       GROUP BY c.c_custkey, c.c_name, n.n_name
       ORDER BY revenue DESC, c_custkey
       LIMIT 20""",
)
def tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 (returned item reporting): quarter-windowed orders,
    returned lineitems, nation dim broadcast, top-20 customers by lost
    revenue — the 4-table star join with a deterministic tie-break."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_returnflag") == "R"
    )
    dec = lambda col: F.col(col).cast("decimal(18,6)")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.sum(dec("l_extendedprice") * (F.lit(1) - dec("l_discount")))
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
        .select("c_custkey", "c_name", "revenue", "n_name")
    )


@_register("quality_score_docs")
def quality_score_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E88: model-based quality scoring — Gopher weak labels distilled
    into a HashingTF+IDF+LogisticRegression scorer (MLlib; training is
    partition-local gradient aggregation, scoring a broadcast map-side
    transform). Rows-only: a trained model has no SQL-oracle form;
    separation/determinism/round-trip are pytest-gated
    (tests/test_classifier.py). Every call trains the model, then
    scores."""
    from mysql_syncer_spark.operators.classifier import (
        score_quality,
        train_quality_classifier,
        weak_labels_from_gopher,
    )

    docs = load_table(spark, sf_dir, "documents")
    model = train_quality_classifier(
        weak_labels_from_gopher(docs), num_features=1 << 14
    )
    return score_quality(docs.select("doc_id", "text"), model).select(
        "doc_id", "quality_score"
    )


@_register(
    "group_quantiles_events",
    " UNION ALL ".join(
        f"""SELECT event_type, CAST({p} AS DOUBLE) AS prob,
               ROUND(quantile_cont(value, {p}), 6) AS quantile
            FROM events GROUP BY event_type"""
        for p in (0.25, 0.5, 0.75, 0.95)
    ),
)
def group_quantiles_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E86: per-group quantiles at the (group, prob) grain — one
    combinable groupBy computing ALL probs in a single percentile
    array, posexploded row-locally (operators/profile.group_quantiles;
    approx_percentile is the documented 100 TB swap)."""
    from mysql_syncer_spark.operators.profile import group_quantiles

    events = load_table(spark, sf_dir, "events")
    return group_quantiles(
        events, ["event_type"], "value", probs=(0.25, 0.5, 0.75, 0.95)
    )


@_register(
    "tpch_q5_local_supplier",
    """SELECT n.n_name,
              CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,6))
                       * (1 - CAST(l.l_discount AS DECIMAL(18,6))))
                   AS DOUBLE) AS revenue
       FROM customer c
       JOIN orders o ON c.c_custkey = o.o_custkey
       JOIN lineitem l ON l.l_orderkey = o.o_orderkey
       JOIN supplier s ON l.l_suppkey = s.s_suppkey
                      AND c.c_nationkey = s.s_nationkey
       JOIN nation n ON s.s_nationkey = n.n_nationkey
       JOIN region r ON n.n_regionkey = r.r_regionkey
       WHERE r.r_name = 'ASIA'
         AND o.o_orderdate >= TIMESTAMP '1996-01-01'
         AND o.o_orderdate < TIMESTAMP '1997-01-01'
       GROUP BY n.n_name
       ORDER BY revenue DESC, n_name""",
)
def tpch_q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 (local supplier volume): the 6-table join chain with
    the customer-nation = supplier-nation co-location predicate —
    region/nation dims broadcast, year-window filter pushed to the
    orders scan; one agg shuffle on the 25-nation key."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    su = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    dec = lambda col: F.col(col).cast("decimal(18,6)")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(su),
            (li.l_suppkey == su.s_suppkey)
            & (c.c_nationkey == su.s_nationkey),
        )
        .join(F.broadcast(n), su.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.sum(dec("l_extendedprice") * (F.lit(1) - dec("l_discount")))
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.desc("revenue"), "n_name")
    )


@_register(
    "tpch_q6_forecast_revenue",
    """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))
                      * CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE)
                  AS revenue,
              CAST(COUNT(*) AS BIGINT) AS n_items
       FROM lineitem
       WHERE l_shipdate >= TIMESTAMP '1996-01-01'
         AND l_shipdate < TIMESTAMP '1997-01-01'
         AND l_discount >= 0.05 AND l_discount <= 0.07
         AND l_quantity < 24""",
)
def tpch_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecasting revenue change): pure scan-side predicate
    stack + one scalar agg — the query whose entire cost is how much
    the filters prune; every predicate reaches PushedFilters."""
    li = load_table(spark, sf_dir, "lineitem")
    dec = lambda col: F.col(col).cast("decimal(18,6)")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(dec("l_extendedprice") * dec("l_discount"))
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@_register(
    "tpch_q14_promo_revenue",
    """SELECT CAST(ROUND(
                100.0 * SUM(CASE WHEN p.p_type = 'PROMO'
                    THEN CAST(l.l_extendedprice AS DECIMAL(18,6))
                         * (1 - CAST(l.l_discount AS DECIMAL(18,6)))
                    ELSE 0 END)
                / SUM(CAST(l.l_extendedprice AS DECIMAL(18,6))
                      * (1 - CAST(l.l_discount AS DECIMAL(18,6)))), 6)
                AS DOUBLE) AS promo_revenue_pct
       FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
       WHERE l.l_shipdate >= TIMESTAMP '1996-09-01'
         AND l.l_shipdate < TIMESTAMP '1996-10-01'""",
)
def tpch_q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 (promotion effect): month-windowed lineitem joined to
    the part dim (broadcast), conditional-sum ratio in one agg."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    pt = load_table(spark, sf_dir, "part")
    dec = lambda col: F.col(col).cast("decimal(18,6)")
    rev = dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(
        F.lit(0).cast("decimal(18,6)")
    )
    return (
        li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey)
        .agg(
            F.round(F.lit(100.0) * F.sum(promo) / F.sum(rev), 6)
            .cast("double")
            .alias("promo_revenue_pct")
        )
    )


@_register(
    "tpch_q18_large_volume",
    """WITH big AS (
          SELECT l_orderkey FROM lineitem
          GROUP BY l_orderkey HAVING SUM(l_quantity) > 300)
       SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
              o.o_totalprice,
              CAST(SUM(l.l_quantity) AS DOUBLE) AS sum_qty
       FROM customer c
       JOIN orders o ON c.c_custkey = o.o_custkey
       JOIN lineitem l ON o.o_orderkey = l.l_orderkey
       WHERE o.o_orderkey IN (SELECT l_orderkey FROM big)
       GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
                o.o_totalprice
       ORDER BY o.o_totalprice DESC, o.o_orderdate, o_orderkey
       LIMIT 20""",
)
def tpch_q18_large_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (large volume customers): the HAVING-subquery shape —
    qualifying order keys from one combinable quantity agg, semi-joined
    back (never an IN-list), customer dim joined, top-20 with full
    deterministic tie-break."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("__sq"))
        .where(F.col("__sq") > 300)
        .select("l_orderkey")
    )
    return (
        li.join(big, "l_orderkey", "left_semi")
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate",
                 "o_totalprice")
        .agg(F.sum("l_quantity").cast("double").alias("sum_qty"))
        .orderBy(F.desc("o_totalprice"), "o_orderdate", "o_orderkey")
        .limit(20)
        .select("c_name", "c_custkey", "o_orderkey", "o_orderdate",
                "o_totalprice", "sum_qty")
    )


@_register(
    "vocab_drift_docs",
    r"""WITH a AS (SELECT text FROM documents WHERE doc_id % 2 = 0),
         b AS (SELECT text FROM documents WHERE doc_id % 2 = 1),
         wa AS (SELECT unnest(string_split(regexp_replace(trim(lower(text)),
                    '\s+', ' ', 'g'), ' ')) AS term FROM a),
         wb AS (SELECT unnest(string_split(regexp_replace(trim(lower(text)),
                    '\s+', ' ', 'g'), ' ')) AS term FROM b),
         ca AS (SELECT term, COUNT(*) AS c_a FROM wa WHERE term <> ''
                GROUP BY term),
         cb AS (SELECT term, COUNT(*) AS c_b FROM wb WHERE term <> ''
                GROUP BY term),
         m AS (SELECT COALESCE(ca.term, cb.term) AS term,
                      COALESCE(c_a, 0) AS c_a, COALESCE(c_b, 0) AS c_b
               FROM ca FULL OUTER JOIN cb ON ca.term = cb.term),
         t AS (SELECT SUM(c_a) AS na, SUM(c_b) AS nb, COUNT(*) AS v FROM m),
         s AS (SELECT term, c_a, c_b,
                      (c_a + 0.5) / (t.na + 0.5 * t.v) AS p,
                      (c_b + 0.5) / (t.nb + 0.5 * t.v) AS q
               FROM m, t)
        SELECT term, c_a, c_b,
               ROUND(p * LN(2 * p / (p + q)) + q * LN(2 * q / (p + q)), 9)
                   AS js_contrib
        FROM s
        ORDER BY js_contrib DESC, term
        LIMIT 20""",
)
def vocab_drift_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E77: corpus drift monitor — top-20 terms by Jensen-Shannon
    divergence contribution between two snapshot halves of the corpus
    (even vs odd doc ids as the deterministic stand-in for crawl N vs
    crawl N+1). Vocab-sized joins only; totals broadcast in-plan;
    TakeOrderedAndProject top-k."""
    from mysql_syncer_spark.operators.text import vocab_divergence

    docs = load_table(spark, sf_dir, "documents")
    a = docs.where(F.col("doc_id") % 2 == 0)
    b = docs.where(F.col("doc_id") % 2 == 1)
    return vocab_divergence(a, b, k=20)


@_register("frame_sample_media_docs")  # no SQL oracle: real PNG/GIF bytes
def frame_sample_media_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E78 end-to-end at corpus scale: fabricate a deterministic 4-frame
    8x8 animated GIF per document (sha-derived solid frames, REAL
    encoder), then run the real frame sampler — stdlib LZW decode,
    disposal compositing, every-2nd frame, PNG re-encode — through two
    Arrow mapInPandas stages. Rows-only driver check (binary output has
    no SQL form); the codec itself is bit-exactness-tested in
    tests/test_gif.py."""
    import pandas as _pd

    from mysql_syncer_spark.operators.gif import gif_encode
    from mysql_syncer_spark.operators.multimodal import sample_gif_frames

    docs = load_table(spark, sf_dir, "documents")

    def make_gifs(batches):
        import hashlib as _hl

        for pdf in batches:
            ids, payloads = [], []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                ids.append(did)
                if text is None:
                    payloads.append(None)
                    continue
                d = _hl.sha256(text.encode()).digest()
                frames = [
                    bytes(d[3 * f : 3 * f + 3]) * 64 for f in range(4)
                ]
                payloads.append(gif_encode(8, 8, frames))
            yield _pd.DataFrame({"media_id": ids, "media": payloads})

    # the corpus parquet is file-partitioned by SIZE; this stage is
    # CPU-bound pure-Python codec work, so spread it over the cores —
    # a small corpus file otherwise runs the whole codec on one task
    par = spark.sparkContext.defaultParallelism
    media = (
        docs.select("doc_id", "text")
        .repartition(par)
        .mapInPandas(make_gifs, "media_id long, media binary")
    )
    out = sample_gif_frames(media, every_k=2)
    return out.select(
        "media_id", "frame_idx", "n_frames", "width", "height",
        F.round("mean_luma", 6).alias("mean_luma"),
    )


@_register(
    "bm25_search_docs",
    r"""WITH w AS (
          SELECT doc_id, unnest(string_split(
                     regexp_replace(trim(lower(text)), '\s+', ' ', 'g'),
                     ' ')) AS term
          FROM documents),
         wf AS (SELECT doc_id, term FROM w WHERE term <> ''),
         tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM wf
                GROUP BY doc_id, term),
         dl AS (SELECT doc_id, SUM(tf) AS doc_len FROM tf GROUP BY doc_id),
         st AS (SELECT COUNT(*) AS n, AVG(doc_len) AS avgdl FROM dl),
         hits AS (SELECT tf.doc_id, tf.term, tf.tf, dl.doc_len FROM tf
                  JOIN dl ON dl.doc_id = tf.doc_id
                  WHERE tf.term IN ('join', 'merge', 'spark')),
         dft AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM hits
                 GROUP BY term),
         sc AS (SELECT h.doc_id,
                       LN((st.n - d.df + 0.5) / (d.df + 0.5) + 1.0)
                         * (h.tf * 2.2)
                         / (h.tf + 1.2 * (0.25 + 0.75 * h.doc_len
                                                 / st.avgdl)) AS s
                FROM hits h JOIN dft d ON d.term = h.term, st)
        SELECT doc_id, ROUND(SUM(s), 6) AS score
        FROM sc GROUP BY doc_id
        ORDER BY score DESC, doc_id
        LIMIT 10""",
)
def bm25_search_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E80: Okapi BM25 ranked retrieval — top-10 docs for the query bag
    {spark, merge, join}: tf postings (one combinable shuffle), corpus
    stats as a broadcast 1-row agg, per-term df from the matched
    postings only, TakeOrderedAndProject top-k. The persisted-index
    serving path (search_index) is pytest-proven identical."""
    from mysql_syncer_spark.operators.search_index import bm25_search

    docs = load_table(spark, sf_dir, "documents")
    return bm25_search(docs, ["spark", "merge", "join"], k=10)


@_register(
    "phrase_search_docs",
    r"""WITH t AS (
          SELECT doc_id,
                 CASE WHEN trim(text) = '' THEN []
                      ELSE regexp_split_to_array(
                          regexp_replace(trim(lower(text)), '\s+', ' ', 'g'),
                          ' ')
                 END AS toks
          FROM documents),
         p AS (SELECT doc_id,
                      unnest(generate_series(1, len(toks) - 1)) AS i, toks
               FROM t WHERE len(toks) >= 2)
        SELECT doc_id, COUNT(*) AS n_occurrences
        FROM p
        WHERE toks[i] = 'order' AND toks[i + 1] = 'fast'
        GROUP BY doc_id""",
)
def phrase_search_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E81: exact phrase search ('order fast') via the positional
    anchor trick — every phrase word votes for (doc, pos - slot); an
    anchor holding all slots is an occurrence. One combinable shuffle
    over the phrase words' postings; the oracle walks adjacent
    positions directly."""
    from mysql_syncer_spark.operators.search_index import phrase_search

    docs = load_table(spark, sf_dir, "documents")
    return phrase_search(docs, "order fast")


# ---------------------------------------------------------------------------
# TPC-H completion wave (round 6): the remaining spec queries expressible on
# the trimmed synthetic schema. (Round 7 closed the rest: Q2/Q9/Q11/Q20/Q12
# run over DERIVED partsupp / l_shipmode — see the section above tpch_q2 —
# so all 22 spec queries are now registered, 22/22.)
# The driver fixtures omit l_shipmode /
# l_commitdate / l_receiptdate / l_shipinstruct, o_comment / o_clerk,
# c_phone, p_container / p_mfgr, and the partsupp table entirely, so Q2 /
# Q9 / Q11 / Q20 (partsupp-bound) are out of reach and several below swap
# the missing column for an available one with the SAME kernel shape; every
# substitution is named in the docstring. Decimal-cast sums and exact
# decimal threshold comparisons keep both engines bit-identical (no float
# summation-order boundaries).
# ---------------------------------------------------------------------------


@_register(
    "tpch_q4_order_priority",
    """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
       FROM orders o
       WHERE o.o_orderdate >= TIMESTAMP '1996-07-01'
         AND o.o_orderdate < TIMESTAMP '1996-10-01'
         AND EXISTS (SELECT 1 FROM lineitem l
                     WHERE l.l_orderkey = o.o_orderkey
                       AND l.l_shipdate > o.o_orderdate)
       GROUP BY o_orderpriority
       ORDER BY o_orderpriority""",
)
def tpch_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 (order priority checking), adapted: the spec's lateness
    predicate (l_commitdate < l_receiptdate) uses columns the fixture
    omits, so the EXISTS probe is 'some lineitem shipped after the
    order date' — identical kernel: quarter-windowed orders LEFT SEMI
    JOIN lineitem on key + cross-table inequality, then a tiny-key agg.
    Window filter reaches PushedFilters; the semi join shuffles only
    qualifying orders."""
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    return (
        o.join(
            li,
            (o.o_orderkey == li.l_orderkey)
            & (li.l_shipdate > o.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


@_register(
    "tpch_q7_volume_shipping",
    """SELECT supp_nation, cust_nation, l_year,
              CAST(SUM(volume) AS DOUBLE) AS revenue
       FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                    CAST(EXTRACT(year FROM l.l_shipdate) AS INT) AS l_year,
                    CAST(l.l_extendedprice AS DECIMAL(18,6))
                      * (1 - CAST(l.l_discount AS DECIMAL(18,6))) AS volume
             FROM supplier s
             JOIN lineitem l ON s.s_suppkey = l.l_suppkey
             JOIN orders o ON o.o_orderkey = l.l_orderkey
             JOIN customer c ON c.c_custkey = o.o_custkey
             JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
             JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
             WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
                 OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
               AND l.l_shipdate >= TIMESTAMP '1996-01-01'
               AND l.l_shipdate < TIMESTAMP '1998-01-01') shipping
       GROUP BY supp_nation, cust_nation, l_year
       ORDER BY supp_nation, cust_nation, l_year""",
)
def tpch_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 (volume shipping): bidirectional nation-pair trade flow
    by ship year (fixture nations NATION_1/NATION_2 stand in for the
    spec's FRANCE/GERMANY). Both nation dims broadcast; the pair
    disjunction is evaluated post-join on broadcast columns so the big
    fact join stays a single pass; 2-year window pushed to the scan."""
    s = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    dec = lambda col: F.col(col).cast("decimal(18,6)")
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | (
        (F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .where(pair)
        .select(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
            (dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))).alias(
                "volume"
            ),
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(F.sum("volume").cast("double").alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@_register(
    "tpch_q8_market_share",
    """SELECT o_year,
              CAST(ROUND(SUM(CASE WHEN nation = 'NATION_3' THEN volume
                                  ELSE 0 END) / SUM(volume), 6) AS DOUBLE)
                  AS mkt_share
       FROM (SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS INT) AS o_year,
                    CAST(l.l_extendedprice AS DECIMAL(18,6))
                      * (1 - CAST(l.l_discount AS DECIMAL(18,6))) AS volume,
                    n2.n_name AS nation
             FROM part p
             JOIN lineitem l ON p.p_partkey = l.l_partkey
             JOIN supplier s ON s.s_suppkey = l.l_suppkey
             JOIN orders o ON l.l_orderkey = o.o_orderkey
             JOIN customer c ON o.o_custkey = c.c_custkey
             JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
             JOIN region r ON n1.n_regionkey = r.r_regionkey
             JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
             WHERE r.r_name = 'AMERICA'
               AND o.o_orderdate >= TIMESTAMP '1996-01-01'
               AND o.o_orderdate < TIMESTAMP '1998-01-01'
               AND p.p_type = 'ECONOMY') all_nations
       GROUP BY o_year
       ORDER BY o_year""",
)
def tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 (national market share): NATION_3's share of ECONOMY-
    part volume sold into AMERICA by order year (spec's BRAZIL /
    STEEL substitutions per the fixture domains). The 8-way join keeps
    lineitem as the only big side — part filter prunes before the
    join, all dims broadcast; conditional-sum ratio in one agg."""
    p = load_table(spark, sf_dir, "part").where(F.col("p_type") == "ECONOMY")
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    c = load_table(spark, sf_dir, "customer")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_rk")
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("nation")
    )
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "AMERICA")
    dec = lambda col: F.col(col).cast("decimal(18,6)")
    vol = dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))
    nat_vol = F.when(F.col("nation") == "NATION_3", F.col("volume")).otherwise(
        F.lit(0).cast("decimal(18,6)")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1_key"))
        .join(F.broadcast(r), F.col("n1_rk") == F.col("r_regionkey"))
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
        .select(F.year("o_orderdate").alias("o_year"), vol.alias("volume"),
                "nation")
        .groupBy("o_year")
        .agg(
            F.round(F.sum(nat_vol) / F.sum("volume"), 6)
            .cast("double")
            .alias("mkt_share")
        )
        .orderBy("o_year")
    )


@_register(
    "tpch_q13_customer_distribution",
    """WITH c_orders AS (
          SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
          FROM customer c
          LEFT OUTER JOIN orders o
            ON c.c_custkey = o.o_custkey
           AND o.o_orderpriority <> '1-URGENT'
          GROUP BY c.c_custkey)
       SELECT CAST(c_count AS BIGINT) AS c_count,
              CAST(COUNT(*) AS BIGINT) AS custdist
       FROM c_orders
       GROUP BY c_count
       ORDER BY custdist DESC, c_count DESC""",
)
def tpch_q13_customer_distribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q13 (customer order-count distribution), adapted: the
    spec excludes orders whose o_comment matches 'special requests';
    the fixture has no o_comment, so '1-URGENT' priority is excluded —
    same kernel: outer join that MUST keep order-less customers
    (COUNT(col) not COUNT(*)), then a second tiny re-aggregation over
    the count histogram."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") != "1-URGENT"
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_outer")
        .groupBy(c.c_custkey)
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@_register(
    "tpch_q15_top_supplier",
    """WITH revenue AS (
          SELECT l_suppkey AS supplier_no,
                 SUM(CAST(l_extendedprice AS DECIMAL(18,6))
                     * (1 - CAST(l_discount AS DECIMAL(18,6))))
                     AS total_revenue
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1996-01-01'
            AND l_shipdate < TIMESTAMP '1996-04-01'
          GROUP BY l_suppkey)
       SELECT s.s_suppkey, s.s_name,
              CAST(r.total_revenue AS DOUBLE) AS total_revenue
       FROM supplier s
       JOIN revenue r ON s.s_suppkey = r.supplier_no
       WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
       ORDER BY s_suppkey""",
)
def tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 (top supplier): quarter revenue per supplier, then
    the argmax via a 1-row broadcast scalar join (the spec's view +
    scalar subquery — never a driver collect). Exact DECIMAL revenue
    makes the max-equality tie-safe across engines."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    s = load_table(spark, sf_dir, "supplier")
    dec = lambda col: F.col(col).cast("decimal(18,6)")
    rev = (
        li.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.sum(dec("l_extendedprice") * (F.lit(1) - dec("l_discount")))
            .alias("total_revenue")
        )
    )
    mx = rev.agg(F.max("total_revenue").alias("__max_rev"))
    return (
        rev.join(F.broadcast(mx), rev.total_revenue == F.col("__max_rev"))
        .join(F.broadcast(s), F.col("supplier_no") == s.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            F.col("total_revenue").cast("double").alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


@_register(
    "tpch_q16_supplier_part_counts",
    """SELECT p.p_brand, p.p_type, p.p_size,
              CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
       FROM part p JOIN lineitem l ON l.l_partkey = p.p_partkey
       WHERE p.p_brand <> 'Brand#1' AND p.p_type <> 'PROMO'
         AND p.p_size IN (1, 5, 9, 13, 17, 21, 25, 29, 33)
       GROUP BY p.p_brand, p.p_type, p.p_size
       ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""",
)
def tpch_q16_supplier_part_counts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q16 (parts/supplier relationship), adapted: the spec walks
    partsupp, which the fixture omits — the observed supplier set per
    part from lineitem stands in (same kernel: dim-filtered join +
    COUNT DISTINCT over a 3-column group). The spec's supplier-
    complaint NOT IN is unexpressible without s_comment and is
    dropped. Part filters prune before the join; distinct-count is
    the standard 2-phase expand."""
    p = load_table(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29, 33)
    )
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


@_register(
    "tpch_q17_small_qty_revenue",
    """SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,6))) / 7.0
                   AS DOUBLE) AS avg_yearly
       FROM lineitem l
       JOIN part p ON p.p_partkey = l.l_partkey
       JOIN (SELECT l_partkey,
                    SUM(CAST(l_quantity AS DECIMAL(18,6))) AS qty_sum,
                    COUNT(*) AS qty_cnt
             FROM lineitem GROUP BY l_partkey) t
         ON t.l_partkey = l.l_partkey
       WHERE p.p_brand = 'Brand#3' AND p.p_type = 'SMALL'
         AND CAST(l.l_quantity AS DECIMAL(18,6)) * t.qty_cnt * 5
             < t.qty_sum""",
)
def tpch_q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 (small-quantity-order revenue), adapted: p_container
    is absent so the part predicate is brand + SMALL p_type. The
    spec's correlated 0.2*AVG subquery is decorrelated into a per-part
    (sum, count) aggregate joined back; the threshold is compared as
    qty*cnt*5 < sum in exact DECIMAL — algebraically identical to
    qty < 0.2*avg with no float summation-order boundary."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").where(
        (F.col("p_brand") == "Brand#3") & (F.col("p_type") == "SMALL")
    )
    decq = F.col("l_quantity").cast("decimal(18,6)")
    per_part = li.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        F.sum(decq).alias("qty_sum"), F.count(F.lit(1)).alias("qty_cnt")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(per_part, li.l_partkey == F.col("t_partkey"))
        .where(decq * F.col("qty_cnt") * F.lit(5) < F.col("qty_sum"))
        .agg(
            (F.sum(F.col("l_extendedprice").cast("decimal(18,6)")) / F.lit(7.0))
            .cast("double")
            .alias("avg_yearly")
        )
    )


@_register(
    "tpch_q19_discounted_revenue",
    """SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,6))
                      * (1 - CAST(l.l_discount AS DECIMAL(18,6))))
                  AS DOUBLE) AS revenue
       FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
       WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
              AND l.l_quantity BETWEEN 1 AND 11)
          OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
              AND l.l_quantity BETWEEN 10 AND 20)
          OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 15
              AND l.l_quantity BETWEEN 20 AND 30)""",
)
def tpch_q19_discounted_revenue(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q19 (discounted revenue), adapted: p_container and
    l_shipinstruct/l_shipmode are absent, so each disjunct pairs
    brand + size-range (part side) with a quantity band (lineitem
    side) — the point of the query survives: an OR-of-ANDs spanning
    both join sides, which Catalyst must split into the part-only
    disjunction (Brand12|Brand23|Brand3, pushed to the part scan)
    while evaluating the full residual post-join."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    dec = lambda col: F.col(col).cast("decimal(18,6)")
    q = F.col("l_quantity")
    cond = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & q.between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 10)
            & q.between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 15)
            & q.between(20, 30)
        )
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .where(cond)
        .agg(
            F.sum(dec("l_extendedprice") * (F.lit(1) - dec("l_discount")))
            .cast("double")
            .alias("revenue")
        )
    )


@_register(
    "tpch_q21_waiting_supplier",
    """SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
       FROM lineitem l1
       JOIN orders o ON o.o_orderkey = l1.l_orderkey
       JOIN supplier s ON s.s_suppkey = l1.l_suppkey
       WHERE o.o_orderstatus = 'F'
         AND EXISTS (SELECT 1 FROM lineitem l2
                     WHERE l2.l_orderkey = l1.l_orderkey
                       AND l2.l_suppkey <> l1.l_suppkey)
         AND NOT EXISTS (SELECT 1 FROM lineitem l3
                         WHERE l3.l_orderkey = l1.l_orderkey
                           AND l3.l_suppkey <> l1.l_suppkey
                           AND l3.l_shipdate >= l1.l_shipdate)
       GROUP BY s.s_name
       ORDER BY numwait DESC, s_name
       LIMIT 20""",
)
def tpch_q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 (suppliers who kept orders waiting), adapted: with no
    commit/receipt dates, 'the lineitem every other supplier waited
    on' is the one shipped strictly after ALL other suppliers' items
    of a finished ('F') order — same kernel as spec: a candidate
    lineitem, an EXISTS (other-supplier semi join) and a NOT EXISTS
    (other-supplier-with-inequality anti join) against the same fact,
    then a count per supplier with top-20 tie-broken on name."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderstatus") == "F"
    )
    s = load_table(spark, sf_dir, "supplier")
    l1 = li.alias("l1")
    l2 = li.alias("l2")
    l3 = li.alias("l3")
    cand = l1.join(
        l2,
        (F.col("l1.l_orderkey") == F.col("l2.l_orderkey"))
        & (F.col("l1.l_suppkey") != F.col("l2.l_suppkey")),
        "left_semi",
    )
    sole_latest = cand.join(
        l3,
        (F.col("l1.l_orderkey") == F.col("l3.l_orderkey"))
        & (F.col("l1.l_suppkey") != F.col("l3.l_suppkey"))
        & (F.col("l3.l_shipdate") >= F.col("l1.l_shipdate")),
        "left_anti",
    )
    return (
        sole_latest.join(o, F.col("l1.l_orderkey") == o.o_orderkey)
        .join(F.broadcast(s), F.col("l1.l_suppkey") == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


@_register(
    "tpch_q22_global_sales_opportunity",
    """WITH pool AS (
          SELECT c_custkey, CAST(c_nationkey AS INT) AS cntrycode,
                 CAST(c_acctbal AS DECIMAL(18,2)) AS bal
          FROM customer
          WHERE c_nationkey IN (1, 3, 5, 7, 9, 11, 13)),
         stat AS (SELECT SUM(bal) AS bal_sum, COUNT(*) AS bal_cnt
                  FROM pool WHERE bal > 0.0)
       SELECT cntrycode, CAST(COUNT(*) AS BIGINT) AS numcust,
              CAST(SUM(bal) AS DOUBLE) AS totacctbal
       FROM pool, stat
       WHERE bal * stat.bal_cnt > stat.bal_sum
         AND NOT EXISTS (SELECT 1 FROM orders o
                         WHERE o.o_custkey = pool.c_custkey
                           AND o.o_orderdate >= TIMESTAMP '2000-01-01')
       GROUP BY cntrycode
       ORDER BY cntrycode""",
)
def tpch_q22_global_sales_opportunity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q22 (global sales opportunity), adapted: c_phone is
    absent, so the spec's phone-prefix country pool becomes a
    c_nationkey IN-set, and (because every fixture customer has some
    order) 'never purchased' becomes 'no order since 2000-01-01'
    (lapsed) — same kernel: an above-average-balance filter against a
    scalar aggregate (1-row broadcast join, never a collect), an anti
    join to the windowed orders, and a per-country rollup. The average test is exact: bal*cnt > sum in
    DECIMAL(18,2) avoids the float-mean boundary entirely."""
    pool = (
        load_table(spark, sf_dir, "customer")
        .where(F.col("c_nationkey").isin(1, 3, 5, 7, 9, 11, 13))
        .select(
            "c_custkey",
            F.col("c_nationkey").cast("int").alias("cntrycode"),
            F.col("c_acctbal").cast("decimal(18,2)").alias("bal"),
        )
    )
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    )
    stat = pool.where(F.col("bal") > 0.0).agg(
        F.sum("bal").alias("bal_sum"), F.count(F.lit(1)).alias("bal_cnt")
    )
    return (
        pool.join(F.broadcast(stat))
        .where(F.col("bal") * F.col("bal_cnt") > F.col("bal_sum"))
        .join(o, pool.c_custkey == o.o_custkey, "left_anti")
        .groupBy("cntrycode")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum("bal").cast("double").alias("totacctbal"),
        )
        .orderBy("cntrycode")
    )


# ---------------------------------------------------------------------------
# TPC-H completion (round 7): the five queries the trimmed fixture schema
# kept out of reach (Q2/Q9/Q11/Q20 need partsupp; Q12 needs l_shipmode).
# Both are DERIVED deterministically from the base tables with
# integer-only arithmetic, so Spark and the DuckDB oracle each re-derive
# IDENTICAL rows inline — full value-hash oracles with no side files and
# no engine-written layout to keep in sync. partsupp follows the spec's
# shape (4 suppliers per part, dbgen clause 4.2.3 adapted to the
# fixture's 0-based keys): supplier i of part p is (p*7 + i) % S — the
# "+i" guarantees 4 distinct suppliers for any S > 4. Supply cost stays
# integer CENTS (ps_supplycost_cents) so money aggregates are
# engine-exact; the registry convention (decimal sums, CAST AS DOUBLE at
# the very end) applies as in tpch_q7.
# ---------------------------------------------------------------------------

#: shared oracle CTE deriving partsupp (paste after WITH)
_TPCH_PS_CTE = """psk AS (
      SELECT p_partkey,
             (p_partkey * 7 + i) % (SELECT COUNT(*) FROM supplier) AS sk
      FROM part, (SELECT UNNEST([0, 1, 2, 3]) AS i) t),
    partsupp AS (
      SELECT p_partkey AS ps_partkey, sk AS ps_suppkey,
             CAST((p_partkey * 31 + sk * 7) % 9999 + 1 AS INT)
                 AS ps_availqty,
             CAST((p_partkey * 37 + sk * 11) % 99900 + 100 AS BIGINT)
                 AS ps_supplycost_cents
      FROM psk)"""

#: derived line ship mode — the same CASE text runs in Spark (F.expr)
#: and DuckDB, so the dimension is identical by construction
_TPCH_SHIPMODE_SQL = (
    "CASE (l_orderkey * 3 + CAST(l_linenumber AS BIGINT) * 5 + l_partkey)"
    " % 7 WHEN 0 THEN 'REG AIR' WHEN 1 THEN 'AIR' WHEN 2 THEN 'RAIL'"
    " WHEN 3 THEN 'SHIP' WHEN 4 THEN 'TRUCK' WHEN 5 THEN 'MAIL'"
    " ELSE 'FOB' END"
)


def _partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derived partsupp (see section comment). The supplier count is a
    dim-table metadata read that becomes a plan literal — at 100 TB the
    derivation itself is a zero-shuffle per-row projection over part."""
    part = load_table(spark, sf_dir, "part")
    s_cnt = load_table(spark, sf_dir, "supplier").count()
    sk = (F.col("p_partkey") * 7 + F.col("i")) % F.lit(s_cnt)
    return part.select(
        "p_partkey", F.explode(F.array(*[F.lit(i) for i in range(4)])).alias("i")
    ).select(
        F.col("p_partkey").alias("ps_partkey"),
        sk.alias("ps_suppkey"),
        ((F.col("p_partkey") * 31 + sk * 7) % 9999 + 1)
        .cast("int")
        .alias("ps_availqty"),
        ((F.col("p_partkey") * 37 + sk * 11) % 99900 + 100)
        .cast("bigint")
        .alias("ps_supplycost_cents"),
    )
