"""Corpus-statistics queries (operators/corpus.py): TF-IDF top terms,
context-window chunking, bigram LM counts, BPE merge candidates — each
with an exact DuckDB oracle (every op is a deterministic function of
the data; floats are rounded to 6 dp BEFORE ranking so a ULP of
cross-engine noise cannot flip a top-k cut)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gcs2postgres_spark.catalog import load_table
from gcs2postgres_spark.operators.caching import widen_doc_scan
from gcs2postgres_spark.operators.corpus import (
    bigram_pmi,
    bm25_search,
    bigram_counts,
    bigram_perplexity,
    bpe_encode_docs,
    bpe_pair_counts,
    bpe_token_histogram,
    bpe_train_merges,
    chunk_windows,
    tfidf_top_terms,
)
from gcs2postgres_spark.queries.registry import register

_TOKS = r"string_split_regex(lower(trim(text)), '\s+')"

TFIDF_ORACLE = rf"""
WITH tf AS (
  SELECT doc_id, unnest({_TOKS}) AS term FROM documents
), cnts AS (
  SELECT doc_id, term, count(*) AS cnt FROM tf GROUP BY doc_id, term
), dfreq AS (
  SELECT term, count(*) AS df FROM cnts GROUP BY term
), n AS (
  SELECT count(*) AS n_docs FROM documents
), scored AS (
  SELECT c.doc_id, c.term,
         round((c.cnt::DOUBLE / sum(c.cnt) OVER (PARTITION BY c.doc_id))
               * ln(n.n_docs::DOUBLE / d.df), 6) AS tfidf
  FROM cnts c JOIN dfreq d USING (term) CROSS JOIN n
), ranked AS (
  SELECT doc_id, term, tfidf,
         row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rank
  FROM scored
)
SELECT doc_id, CAST(rank AS BIGINT) AS rank, term, tfidf
FROM ranked WHERE rank <= 3 ORDER BY doc_id, rank
"""


@register("corpus_tfidf_top_terms", oracle=TFIDF_ORACLE)
def corpus_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (salient-term extraction for
    domain mixing / topic routing). Two partial-agg shuffles plus a
    per-doc window top-k; corpus size joins in as a broadcast 1-row
    frame, never a global window. Scores are rounded before ranking in
    BOTH engines, making the (score desc, term asc) order total."""
    docs = load_table(spark, sf_dir, "documents")
    return tfidf_top_terms(docs, k=3).orderBy("doc_id", "rank")


CHUNK_ORACLE = rf"""
WITH t AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents
), c AS (
  SELECT doc_id, toks, len(toks) AS n,
         CASE WHEN len(toks) <= 32 THEN 1
              ELSE CAST(ceil((len(toks) - 32) / 24.0) AS BIGINT) + 1 END AS n_chunks
  FROM t
), e AS (
  SELECT doc_id, toks, unnest(generate_series(0, n_chunks - 1)) AS chunk_idx FROM c
)
SELECT doc_id, chunk_idx, chunk_idx * 24 AS start_tok,
       CAST(len(list_slice(toks, chunk_idx * 24 + 1, chunk_idx * 24 + 32)) AS BIGINT)
         AS n_chunk_toks,
       md5(array_to_string(list_slice(toks, chunk_idx * 24 + 1, chunk_idx * 24 + 32), ' '))
         AS chunk_hash
FROM e ORDER BY doc_id, chunk_idx
"""


@register("corpus_chunk_windows", oracle=CHUNK_ORACLE)
def corpus_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: 32-token windows, stride 24 (8-token
    overlap), final short chunk emitted unpadded. Zero shuffles — the
    token array is materialized once and sliced per chunk. chunk_hash
    is the portable md5 content id downstream dedup/packing joins on;
    the oracle recomputes every hash, so one shifted window breaks it."""
    docs = load_table(spark, sf_dir, "documents")
    return chunk_windows(docs, size=32, stride=24).orderBy("doc_id", "chunk_idx")


BIGRAM_ORACLE = rf"""
WITH t AS (
  SELECT {_TOKS} AS toks FROM documents
), b AS (
  SELECT toks[i] AS w1, toks[i + 1] AS w2
  FROM t, unnest(generate_series(1, len(toks) - 1)) AS u(i)
  WHERE len(toks) >= 2
), g AS (
  SELECT w1, w2, count(*) AS cnt FROM b GROUP BY w1, w2
)
SELECT w1, w2, cnt,
       round(cnt::DOUBLE / sum(cnt) OVER (PARTITION BY w1), 6) AS cond_p
FROM g ORDER BY cnt DESC, w1, w2 LIMIT 20
"""


@register("corpus_bigram_lm_counts", oracle=BIGRAM_ORACLE)
def corpus_bigram_lm_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 corpus bigrams with conditional probability P(w2|w1) —
    the n-gram LM table behind perplexity-ish quality gates. Bigrams
    come from zip_with over the token array and its shift (linear, no
    per-element re-split), then one partial-agg shuffle; the (cnt desc,
    w1, w2) rank is a total order so the cut is deterministic."""
    docs = load_table(spark, sf_dir, "documents")
    return bigram_counts(docs, top_n=20)


PERPLEXITY_ORACLE = rf"""
WITH t AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents
), b AS (
  SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
  FROM t, unnest(generate_series(1, len(toks) - 1)) AS u(i)
  WHERE len(toks) >= 2
), lm AS (
  SELECT w1, w2, count(*) AS cnt FROM b GROUP BY w1, w2
), w1t AS (
  SELECT w1, sum(cnt) AS w1_cnt FROM lm GROUP BY w1
), p AS (
  SELECT w1, w2, cnt::DOUBLE / w1_cnt AS cond_p FROM lm JOIN w1t USING (w1)
)
SELECT doc_id, count(*) AS n_bigrams,
       round(avg(-ln(cond_p)), 6) AS cross_entropy,
       round(exp(avg(-ln(cond_p))), 6) AS perplexity
FROM b JOIN p USING (w1, w2)
GROUP BY doc_id ORDER BY doc_id
"""


@register("corpus_bigram_perplexity", oracle=PERPLEXITY_ORACLE)
def corpus_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document cross-entropy/perplexity under the corpus's own
    maximum-likelihood bigram LM — the n-gram quality gate that flags
    documents whose word transitions look nothing like the corpus. The
    LM is trained on the same data, so every probability is nonzero and
    the whole statistic is exactly SQL-replayable — the oracle rebuilds
    the LM and replays every per-document average."""
    docs = load_table(spark, sf_dir, "documents")
    return bigram_perplexity(docs).orderBy("doc_id")


BPE_ORACLE = rf"""
WITH words AS (
  SELECT unnest({_TOKS}) AS word FROM documents
), wf AS (
  SELECT word, count(*) AS wcnt FROM words GROUP BY word HAVING length(word) >= 2
), pairs AS (
  SELECT word, wcnt, substr(word, i, 2) AS pair
  FROM wf, unnest(generate_series(1, length(word) - 1)) AS u(i)
)
SELECT pair,
       CAST(sum(wcnt) AS BIGINT) AS n_occurrences,
       CAST(count(DISTINCT word) AS BIGINT) AS n_words
FROM pairs GROUP BY pair ORDER BY n_occurrences DESC, pair LIMIT 20
"""


@register("corpus_bpe_merge_candidates", oracle=BPE_ORACLE)
def corpus_bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 adjacent character-pair frequencies weighted by word
    frequency — the statistic a BPE tokenizer trainer computes for its
    first merge. The corpus collapses to its vocabulary FIRST (classic
    trainer optimization: pair counting is O(vocab × word_len), not
    O(corpus)); overlapping occurrences within a word each count, as in
    the textbook algorithm."""
    docs = load_table(spark, sf_dir, "documents")
    return bpe_pair_counts(docs, top_n=20)


def _bpe_train_oracle(n_merges: int) -> str:
    """Unrolled static SQL replaying the BPE trainer recurrence: round k
    counts pairs over s{k-1}, picks the best via scalar subqueries, and
    produces s{k} with the same sentinel-string replace the Spark op
    uses — so every learned merge AND its count must match exactly."""
    L, R = "chr(1)", "chr(2)"
    sql = [
        rf"""WITH wf AS (
  SELECT word, count(*) AS wcnt
  FROM (SELECT unnest({_TOKS}) AS word FROM documents)
  GROUP BY word HAVING length(word) >= 2
), s0 AS (
  SELECT wcnt, regexp_replace(word, '(.)', {L} || '\1' || {R}, 'g') AS seg FROM wf
)"""
    ]
    for k in range(1, n_merges + 1):
        sql.append(
            f""", y{k} AS (
  SELECT wcnt, string_split(substr(seg, 2, length(seg) - 2), {R} || {L}) AS syms
  FROM s{k - 1}
), p{k} AS (
  SELECT syms[i] AS a, syms[i + 1] AS b, sum(wcnt) AS cnt
  FROM y{k}, unnest(generate_series(1, len(syms) - 1)) AS u(i)
  GROUP BY a, b
), b{k} AS (
  SELECT {k} AS step, a, b, a || b AS merged, CAST(cnt AS BIGINT) AS pair_count
  FROM p{k} ORDER BY cnt DESC, a, b LIMIT 1
), s{k} AS (
  SELECT wcnt, replace(seg,
    (SELECT {L} || a || {R} || {L} || b || {R} FROM b{k}),
    (SELECT {L} || a || b || {R} FROM b{k})) AS seg
  FROM s{k - 1}
)"""
        )
    union = "\nUNION ALL\n".join(
        f"SELECT CAST(step AS BIGINT) AS step, a AS lhs, b AS rhs, merged, pair_count FROM b{k}"
        for k in range(1, n_merges + 1)
    )
    return "".join(sql) + "\n" + union + "\nORDER BY step"


BPE_TRAIN_ORACLE = _bpe_train_oracle(3)


@register("corpus_bpe_train_merges", oracle=BPE_TRAIN_ORACLE)
def corpus_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three rounds of actual BPE merge training (not just the first-
    merge candidates): each round counts adjacent symbol pairs over the
    frequency-weighted vocabulary, merges the winner greedily
    left-to-right, and feeds the next round. Every round is vocab-sized
    distributed work with a 1-row argmax collect — the inherent
    sequential step of BPE. The oracle unrolls the identical recurrence
    as static CTEs, so a wrong tie-break, overlap handling, or count in
    ANY round fails the compare."""
    docs = load_table(spark, sf_dir, "documents")
    return bpe_train_merges(docs, n_merges=3)


def _bpe_encode_prefix(n_merges: int) -> str:
    """Training CTEs (b1..bn pick each round's merge over the length>=2
    vocab — identical to _bpe_train_oracle) PLUS encode CTEs: the FULL
    vocabulary (single-char words included) segmented and run through
    the n merges in rank order with the same greedy non-rescanning
    replace. ``enc`` ends as (word, wcnt, seg, n_tokens)."""
    L, R = "chr(1)", "chr(2)"
    sql = [
        rf"""WITH wf AS (
  SELECT word, count(*) AS wcnt
  FROM (SELECT unnest({_TOKS}) AS word FROM documents)
  GROUP BY word HAVING length(word) >= 2
), s0 AS (
  SELECT wcnt, regexp_replace(word, '(.)', {L} || '\1' || {R}, 'g') AS seg FROM wf
)"""
    ]
    for k in range(1, n_merges + 1):
        sql.append(
            f""", y{k} AS (
  SELECT wcnt, string_split(substr(seg, 2, length(seg) - 2), {R} || {L}) AS syms
  FROM s{k - 1}
), p{k} AS (
  SELECT syms[i] AS a, syms[i + 1] AS b, sum(wcnt) AS cnt
  FROM y{k}, unnest(generate_series(1, len(syms) - 1)) AS u(i)
  GROUP BY a, b
), b{k} AS (
  SELECT a, b FROM p{k} ORDER BY cnt DESC, a, b LIMIT 1
), s{k} AS (
  SELECT wcnt, replace(seg,
    (SELECT {L} || a || {R} || {L} || b || {R} FROM b{k}),
    (SELECT {L} || a || b || {R} FROM b{k})) AS seg
  FROM s{k - 1}
)"""
        )
    sql.append(
        rf""", vocab AS (
  SELECT word, count(*) AS wcnt
  FROM (SELECT unnest({_TOKS}) AS word FROM documents)
  GROUP BY word
), e0 AS (
  SELECT word, wcnt,
         regexp_replace(word, '(.)', {L} || '\1' || {R}, 'g') AS seg
  FROM vocab
)"""
    )
    for k in range(1, n_merges + 1):
        sql.append(
            f""", e{k} AS (
  SELECT word, wcnt, replace(seg,
    (SELECT {L} || a || {R} || {L} || b || {R} FROM b{k}),
    (SELECT {L} || a || b || {R} FROM b{k})) AS seg
  FROM e{k - 1}
)"""
        )
    sql.append(
        f""", enc AS (
  SELECT word, wcnt, seg,
         length(seg) - length(replace(seg, {L}, '')) AS n_tokens
  FROM e{n_merges}
)"""
    )
    return "".join(sql)


BPE_HISTOGRAM_ORACLE = (
    _bpe_encode_prefix(3)
    + """
SELECT token,
       CAST(sum(wcnt) AS BIGINT) AS n_occurrences,
       CAST(count(DISTINCT word) AS BIGINT) AS n_words
FROM (
  SELECT word, wcnt,
         unnest(string_split(substr(seg, 2, length(seg) - 2),
                             chr(2) || chr(1))) AS token
  FROM enc
)
GROUP BY token ORDER BY n_occurrences DESC, token LIMIT 20
"""
)


@register("corpus_bpe_encode_histogram", oracle=BPE_HISTOGRAM_ORACLE)
def corpus_bpe_encode_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r17 — BPE ENCODE (the half a training-data run executes per
    document): three merges are TRAINED, then the full vocabulary is
    tokenized under them and the corpus-wide token histogram emitted —
    top-20 BPE tokens by frequency-weighted occurrences. Encoding is a
    chain of greedy string replaces over the DISTINCT-word frame (the
    tokenizer encoder cache — vocab-sized, never corpus-sized; pure
    codegen, no UDF). The oracle replays training AND encoding as
    static CTEs, so a wrong merge, tie-break, or encode order fails
    the compare."""
    docs = load_table(spark, sf_dir, "documents")
    merges = bpe_train_merges(docs, n_merges=3)
    return bpe_token_histogram(docs, merges, top_n=20)


BPE_DOCS_ORACLE = (
    _bpe_encode_prefix(3)
    + """
, docw AS (
  SELECT doc_id, unnest({toks}) AS word FROM documents
), per_doc AS (
  SELECT d.doc_id,
         count(*) AS n_words,
         sum(e.n_tokens) AS n_tokens
  FROM docw d JOIN enc e USING (word)
  GROUP BY d.doc_id
)
SELECT CAST(doc_id % 16 AS BIGINT)   AS bucket,
       CAST(count(*) AS BIGINT)      AS n_docs,
       CAST(sum(n_words) AS BIGINT)  AS n_words,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens
FROM per_doc
GROUP BY doc_id % 16 ORDER BY bucket
""".replace("{toks}", _TOKS)
)


@register("corpus_bpe_encode_docs", oracle=BPE_DOCS_ORACLE)
def corpus_bpe_encode_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r17 — tokens-per-document under the trained merges (sequence-
    length budgeting / packing / billing input): each DISTINCT word is
    encoded once, the corpus explode equi-joins word -> n_tokens, and
    per-document counts re-aggregate, folded into 16 deterministic
    buckets for a stable compare. Both shuffles ride high-cardinality
    keys; the merge chain never touches corpus-sized data."""
    docs = load_table(spark, sf_dir, "documents")
    merges = bpe_train_merges(docs, n_merges=3)
    per_doc = bpe_encode_docs(docs, merges)
    return (
        per_doc.groupBy((F.col("doc_id") % 16).cast("long").alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_words").cast("long").alias("n_words"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
        )
        .orderBy("bucket")
    )


BM25_TERMS = ["join", "shuffle", "broadcast"]

BM25_ORACLE = """
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
  FROM documents
), dl AS (
  SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id
), stats AS (
  SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl
), tf AS (
  SELECT doc_id, tok, count(*) AS tf FROM toks
  WHERE tok IN ('join', 'shuffle', 'broadcast')
  GROUP BY doc_id, tok
), df AS (
  SELECT tok, count(DISTINCT doc_id) AS df FROM tf GROUP BY tok
), scored AS (
  SELECT tf.doc_id,
         round(sum(
           ln((s.n_docs - df.df + 0.5) / (df.df + 0.5) + 1)
           * tf.tf * (1.2 + 1)
           / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / s.avgdl))
         ), 6) AS bm25
  FROM tf
  JOIN df USING (tok)
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats s
  GROUP BY tf.doc_id
)
SELECT doc_id, bm25, CAST(rank AS INT) AS rank FROM (
  SELECT *, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rank FROM scored
) WHERE rank <= 10
ORDER BY rank
"""


@register("corpus_bm25_search", oracle=BM25_ORACLE)
def corpus_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 (k1=1.2, b=0.75) top-10 for a 3-term keyword query —
    lexical retrieval over the corpus, planned as an inverted-index
    probe: the query-term filter prunes postings before any shuffle,
    df/corpus stats broadcast back, global top-k via per-partition
    heaps. Scores rounded 6dp on both engines; ties → doc_id."""
    docs = load_table(spark, sf_dir, "documents")
    return bm25_search(docs, BM25_TERMS)


CMS_ORACLE = """
WITH toks AS (
  SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok FROM documents
), exact AS (
  SELECT tok, count(*) AS exact_cnt FROM toks GROUP BY tok
), top10 AS (
  SELECT tok, exact_cnt FROM exact ORDER BY exact_cnt DESC, tok LIMIT 10
), hashed AS (
  SELECT tok, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM toks
), cells AS (
  SELECT t.j, (h >> (8 * t.j)) & 255 AS b, count(*) AS c
  FROM hashed CROSS JOIN (SELECT unnest([0, 1, 2]) AS j) t
  GROUP BY 1, 2
), est AS (
  SELECT top10.tok, top10.exact_cnt, min(cells.c) AS cms_est
  FROM top10
  CROSS JOIN (SELECT unnest([0, 1, 2]) AS j) t
  JOIN cells ON cells.j = t.j
   AND cells.b = ((('0x' || substr(md5(top10.tok), 1, 15))::BIGINT >> (8 * t.j)) & 255)
  GROUP BY 1, 2
)
SELECT tok, CAST(exact_cnt AS BIGINT) AS exact_cnt, CAST(cms_est AS BIGINT) AS cms_est
FROM est ORDER BY exact_cnt DESC, tok
"""


@register("corpus_cms_heavy_hitters", oracle=CMS_ORACLE)
def corpus_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (depth 3 × width 256, md5-portable hashes) built
    over the token stream, read back for the true top-10 tokens next to
    their exact counts — certifying the sketch's one-sided error
    (est ≥ exact always; the driver hash pins the exact estimates, not
    just the bound). The fixed 768-cell counter table is the
    heavy-hitter / frequency-cap primitive that replaces a full groupBy
    at 100 TB: cells aggregate with map-side partials and broadcast."""
    from gcs2postgres_spark.operators.dedup import portable_hash60

    docs = load_table(spark, sf_dir, "documents")
    # parallelism guard (guide §2.5): the occurrence-level tokenize is
    # this query's corpus-sized pass; compact scans are narrower than
    # the core count (operators.caching.widen_doc_scan)
    docs = widen_doc_scan(docs, "doc_id")
    toks = docs.select(
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("tok")
    )
    exact = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("exact_cnt"))
    top10 = exact.orderBy(F.desc("exact_cnt"), "tok").limit(10)
    # ONE portable md5 per token supplies all 3 depth buckets as
    # disjoint bytes of the 60-bit hash — the interpreted md5-hex-conv
    # chain is the whole cost of this query (it ran once per (token,
    # depth) before: 3x the hashing for no extra independence that CMS
    # needs; measured 32 -> ~13 s at sf3)
    #
    # Hash dedupe (r8): this CERTIFICATION query already pays the exact
    # groupBy (the thing it certifies against), so the cells are built
    # from that vocab-sized frame — md5 once per DISTINCT token, cell
    # count = sum of multiplicities, bit-identical to hashing every
    # occurrence (sf1 sweep: 10.8 s r6 record -> 3.5 s). The production
    # sketch path at
    # 100 TB hashes each occurrence with xxhash64 (no groupBy, no
    # shuffle — that's the point of the sketch); the md5-per-occurrence
    # tax existed only to keep the oracle's hashes portable.
    def jb_pairs(h):
        # (j, bucket) per depth — shiftright needs a literal bit count,
        # so the three depths unroll into one exploded literal array
        return F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        F.shiftright(h, 8 * j).bitwiseAND(F.lit(255)).alias("b"),
                    )
                    for j in range(3)
                ]
            )
        ).alias("jb")

    hashed = exact.select(portable_hash60(F.col("tok")).alias("h"), "exact_cnt")
    cells = (
        hashed.select(jb_pairs(F.col("h")), "exact_cnt")
        .select("jb.j", "jb.b", "exact_cnt")
        .groupBy("j", "b")
        .agg(F.sum("exact_cnt").alias("c"))
    )
    probed = (
        top10.select("tok", "exact_cnt", portable_hash60(F.col("tok")).alias("h"))
        .select("tok", "exact_cnt", jb_pairs(F.col("h")))
        .select("tok", "exact_cnt", "jb.j", "jb.b")
        .join(F.broadcast(cells), ["j", "b"])
        .groupBy("tok", "exact_cnt")
        .agg(F.min("c").alias("cms_est"))
    )
    return probed.select("tok", "exact_cnt", "cms_est").orderBy(
        F.desc("exact_cnt"), "tok"
    )


PMI_ORACLE = rf"""
WITH t AS (
  SELECT {_TOKS} AS toks FROM documents
), b AS (
  SELECT toks[i] AS w1, toks[i + 1] AS w2
  FROM t, unnest(generate_series(1, len(toks) - 1)) AS u(i)
  WHERE len(toks) >= 2
), g AS (
  SELECT w1, w2, count(*) AS cnt FROM b GROUP BY w1, w2
), m AS (
  SELECT w1, w2, cnt,
         sum(cnt) OVER (PARTITION BY w1) AS c1,
         sum(cnt) OVER (PARTITION BY w2) AS c2,
         sum(cnt) OVER () AS n_total
  FROM g
)
SELECT w1, w2, cnt,
       round(ln(cnt * n_total / (c1 * c2)), 6) AS pmi
FROM m WHERE cnt >= 5
ORDER BY pmi DESC, w1, w2 LIMIT 20
"""


@register("corpus_bigram_pmi", oracle=PMI_ORACLE)
def corpus_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 bigram collocations by PMI (count floor 5) — phrase
    mining / tokenizer-merge heuristic over the corpus; marginals as
    windowed sums over the aggregated bigram table, N broadcast."""
    docs = load_table(spark, sf_dir, "documents")
    return bigram_pmi(docs)


VOCAB_GROWTH_ORACLE = """
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
  FROM documents
), per_doc AS (
  SELECT CAST(doc_id // 100 AS INT) AS cp, count(*) AS n_tok
  FROM toks GROUP BY 1
), first_seen AS (
  SELECT w, CAST(min(doc_id) // 100 AS INT) AS cp FROM toks GROUP BY w
), cp_tok AS (SELECT cp, sum(n_tok) AS toks FROM per_doc GROUP BY cp),
cp_new AS (SELECT cp, count(*) AS new_words FROM first_seen GROUP BY cp)
SELECT t.cp AS checkpoint,
       CAST(sum(t.toks) OVER (ORDER BY t.cp) AS BIGINT) AS cum_tokens,
       CAST(sum(coalesce(n.new_words, 0)) OVER (ORDER BY t.cp) AS BIGINT)
         AS vocab_size
FROM cp_tok t LEFT JOIN cp_new n ON t.cp = n.cp
ORDER BY checkpoint
"""


@register("corpus_vocab_growth", oracle=VOCAB_GROWTH_ORACLE)
def corpus_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary-growth curve: cumulative distinct
    vocabulary vs cumulative token count at 100-doc checkpoints — the
    corpus-health curve a pretraining pipeline watches to spot
    duplicated or templated data (vocab flat-lining while tokens grow).
    Scale shape: each word is reduced to its FIRST document
    (vocab-sized groupBy-min, the same inverted shape as TF-IDF's
    document frequency), checkpoints aggregate to a
    checkpoint-count-sized frame, and only THAT tiny frame flows
    through the cumulative window — the unbounded cumsum never touches
    token- or vocab-cardinality data."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    d = widen_doc_scan(d, "doc_id")  # guide §2.5 parallelism guard
    toks = d.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("w"),
    )
    per_cp_tok = (
        toks.groupBy(F.floor(F.col("doc_id") / 100).cast("int").alias("cp"))
        .agg(F.count(F.lit(1)).alias("toks"))
    )
    first_seen = toks.groupBy("w").agg(
        F.floor(F.min("doc_id") / 100).cast("int").alias("cp")
    )
    cp_new = first_seen.groupBy("cp").agg(F.count(F.lit(1)).alias("new_words"))
    w_cum = Window.orderBy("cp").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        per_cp_tok.join(cp_new, "cp", "left")
        .select(
            F.col("cp").alias("checkpoint"),
            F.sum("toks").over(w_cum).cast("long").alias("cum_tokens"),
            F.sum(F.coalesce("new_words", F.lit(0))).over(w_cum).cast("long").alias("vocab_size"),
        )
        .orderBy("checkpoint")
    )
