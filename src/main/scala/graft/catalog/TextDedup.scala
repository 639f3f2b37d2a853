package graft
package catalog

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators._
import graft.functions.TextFunctions
import Shared._

/** Catalog family — corpus pipeline: text analysis, dedup, sampling,
  * packing, language models and similarity search. */
object TextDedup {

  // lazy: the private helpers below must be initialized first
  lazy val gates: Seq[Gate] = Seq(
    Gate("q20_token_stats", (s, dir) => {
      val toks = TextFunctions.tokens(col("text"))
      tbl(s, dir, "documents").select(col("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        size(array_distinct(toks)).cast("long").as("n_uniq"),
        TextFunctions.uniqueTokenRatio(col("text")).as("uniq_ratio"),
        col("n_chars"))
    },
      s"""WITH toks AS ($toksCte)
         |SELECT doc_id, len(t) AS n_tokens, len(list_distinct(t)) AS n_uniq,
         |  len(list_distinct(t))::DOUBLE / greatest(len(t), 1)::DOUBLE AS uniq_ratio,
         |  n_chars
         |FROM toks""".stripMargin),
    Gate("q21_lang_id", (s, dir) => {
      tbl(s, dir, "documents").select(col("doc_id"), col("lang"),
          TextFunctions.langId(col("text"), langMarkers).as("guess"))
        .withColumn("correct", col("lang") === col("guess"))
    },
      langIdSql),
    Gate("q22_quality_score", (s, dir) => {
      tbl(s, dir, "documents").select(col("doc_id"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"),
        TextFunctions.punctRatio(col("text")).as("punct_ratio"),
        TextFunctions.uniqueTokenRatio(col("text")).as("uniq_ratio"),
        TextFunctions.qualityScore(col("text")).as("quality"))
    },
      s"""WITH toks AS ($toksCte)
         |SELECT doc_id, len(t) AS n_tokens,
         |  (length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')))::DOUBLE
         |    / greatest(length(text), 1)::DOUBLE AS punct_ratio,
         |  len(list_distinct(t))::DOUBLE / greatest(len(t), 1)::DOUBLE AS uniq_ratio,
         |  least(len(t)::DOUBLE / 20.0, 1.0) * 0.4
         |    + (1.0 - least(((length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')))::DOUBLE
         |        / greatest(length(text), 1)::DOUBLE) * 4.0, 1.0)) * 0.2
         |    + (len(list_distinct(t))::DOUBLE / greatest(len(t), 1)::DOUBLE) * 0.4 AS quality
         |FROM toks""".stripMargin),
    Gate("q23_minhash_buckets", (s, dir) => {
      Dedup.minhashBuckets(tbl(s, dir, "documents"), "doc_id", "text",
        k = 2, nHashes = 2, bandSize = 1)
    },
      s"""WITH toks AS ($toksCte),
         |sh AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - 1),
         |  i -> t[i] || ' ' || t[i + 1])) AS s FROM toks),
         |sigs AS (SELECT doc_id, min(substr(md5(s || '0'), 1, 8)) AS s0,
         |    min(substr(md5(s || '0'), 9, 8)) AS s1
         |  FROM sh GROUP BY doc_id),
         |bands AS (SELECT doc_id, 0 AS band_id, md5(s0) AS bucket FROM sigs
         |  UNION ALL SELECT doc_id, 1 AS band_id, md5(s1) AS bucket FROM sigs)
         |SELECT band_id, bucket, count(*) AS bucket_size, min(doc_id) AS min_doc
         |FROM bands GROUP BY band_id, bucket HAVING count(*) > 1""".stripMargin),
    Gate("q24_fingerprint", (s, dir) => {
      // explode-then-agg: one md5 per shingle, map-side partial min
      tbl(s, dir, "documents")
        .select(col("doc_id"),
          explode(TextFunctions.shingles(col("text"), 3)).as("s"))
        .groupBy("doc_id")
        .agg(min(md5(col("s"))).as("fingerprint"),
          countDistinct(col("s")).as("n_shingles"))
    },
      s"""WITH toks AS ($toksCte),
         |sh AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - 2),
         |  i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS s FROM toks)
         |SELECT doc_id, min(md5(s)) AS fingerprint,
         |  count(DISTINCT s) AS n_shingles
         |FROM sh GROUP BY doc_id""".stripMargin),
    Gate("q25_jaccard_pairs", (s, dir) => {
      Dedup.jaccardPairs(tbl(s, dir, "documents"), "doc_id", "text",
        k = 2, threshold = 0.8)
    },
      s"""WITH toks AS ($toksCte),
         |sh AS (SELECT DISTINCT doc_id, unnest(list_transform(generate_series(1, len(t) - 1),
         |  i -> t[i] || ' ' || t[i + 1])) AS s FROM toks),
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
         |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id)
         |SELECT doc_a, doc_b,
         |  inter::DOUBLE / (sa.n + sb.n - inter)::DOUBLE AS jaccard
         |FROM inter
         |JOIN sizes sa ON doc_a = sa.doc_id
         |JOIN sizes sb ON doc_b = sb.doc_id
         |WHERE inter::DOUBLE / (sa.n + sb.n - inter)::DOUBLE >= 0.8""".stripMargin),
    Gate("q26_cosine_topk", (s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      Similarity.cosineTopK(emb.where(col("vec_id") < 10), emb,
        "vec_id", "embedding", k = 5)
    },
      """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
        |  FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id AS cand_id, embedding::DOUBLE[] AS cv FROM embeddings),
        |scored AS (SELECT query_id, cand_id,
        |  list_dot_product(qv, cv)
        |    / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cosine
        |  FROM c, q WHERE query_id <> cand_id)
        |SELECT query_id, cand_id, cosine, rank FROM (
        |  SELECT query_id, cand_id, cosine, row_number() OVER (
        |    PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS rank
        |  FROM scored) WHERE rank <= 5""".stripMargin),
    Gate("q27_ann_lsh", (s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      Similarity.annTopK(emb.where(col("vec_id") < 10), emb,
        "vec_id", "embedding", k = 5, nBits = 4, dim = 64)
    },
      annLshSql),
    Gate("q28_simhash", (s, dir) => {
      Dedup.simhash(tbl(s, dir, "documents"), "doc_id", "text")
    },
      simhashSql),
    Gate("q35_knn_label", (s, dir) => {
      // k-NN majority-vote classification over embedding space
      val emb = tbl(s, dir, "embeddings")
      val topk = Similarity.cosineTopK(emb.where(col("vec_id") < 100), emb,
        "vec_id", "embedding", k = 5)
      val votes = topk
        .join(emb.select(col("vec_id").as("cand_id"), col("label").as("cand_label")),
          "cand_id")
        .groupBy("query_id", "cand_label")
        .agg(count("*").as("votes"))
      val w = Window.partitionBy("query_id")
        .orderBy(col("votes").desc, col("cand_label"))
      votes.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
        .join(emb.select(col("vec_id").as("query_id"), col("label").as("true_label")),
          "query_id")
        .select(col("query_id"), col("cand_label").as("pred_label"),
          col("votes"), col("true_label"),
          (col("cand_label") === col("true_label")).as("correct"))
    },
      """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
        |  FROM embeddings WHERE vec_id < 100),
        |c AS (SELECT vec_id AS cand_id, embedding::DOUBLE[] AS cv FROM embeddings),
        |scored AS (SELECT query_id, cand_id,
        |  list_dot_product(qv, cv)
        |    / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cosine
        |  FROM c, q WHERE query_id <> cand_id),
        |topk AS (SELECT query_id, cand_id FROM (
        |  SELECT query_id, cand_id, row_number() OVER (
        |    PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS rank
        |  FROM scored) WHERE rank <= 5),
        |votes AS (SELECT t.query_id, e.label AS cand_label, count(*) AS votes
        |  FROM topk t JOIN embeddings e ON t.cand_id = e.vec_id
        |  GROUP BY t.query_id, e.label),
        |pred AS (SELECT query_id, cand_label AS pred_label, votes FROM (
        |  SELECT query_id, cand_label, votes, row_number() OVER (
        |    PARTITION BY query_id ORDER BY votes DESC, cand_label) AS rn
        |  FROM votes) WHERE rn = 1)
        |SELECT p.query_id, p.pred_label, p.votes, e.label AS true_label,
        |  p.pred_label = e.label AS correct
        |FROM pred p JOIN embeddings e ON p.query_id = e.vec_id""".stripMargin),
    Gate("q37_token_count", (s, dir) => {
      // token counting two ways: whitespace and a BPE-ish regex
      // (letter runs / digit runs / single punctuation) — same regex
      // semantics in Java (Spark) and RE2 (DuckDB)
      tbl(s, dir, "documents").select(col("doc_id"),
        TextFunctions.tokenCount(col("text")).cast("long").as("ws_tokens"),
        size(regexp_extract_all(lower(col("text")),
          lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))).cast("long").as("bpe_tokens"))
    },
      s"""WITH toks AS ($toksCte)
         |SELECT doc_id, len(t) AS ws_tokens,
         |  len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS bpe_tokens
         |FROM toks""".stripMargin),
    Gate("q38_multimodal_meta", (s, dir) => {
      // multimodal metadata under the oracle gate: the fake corpus
      // (incl. four reject blobs) is written to parquet, then the
      // 15-byte header is parsed with codegen'd binary expressions
      // (no codec, no mapPartitions) — DuckDB slices the SAME parquet
      // bytes via hex-string arithmetic. avg is an exact integer sum
      // over an exact count with ONE double division (hard rule 9's
      // exact-arithmetic variant; int sums are associativity-free).
      val path = Multimodal.scratchCorpusPath
      Multimodal.fakeCorpusWithRejects(s, 300).repartition(2)
        .write.mode("overwrite").parquet(path)
      Multimodal.decodeMetaExpr(s.read.parquet(path), "media_id", "content")
        .groupBy("kind")
        .agg(count(lit(1)).as("n"), sum("byteSize").as("total_bytes"),
          (sum("width").cast("double") / count(lit(1))).as("avg_width"))
    },
      // Twin of Multimodal.decodeMetaExpr over the parquet the Spark
      // query just wrote (content is deterministic and sf-independent).
      // DuckDB 1.0 cannot slice BLOBs, so the header is sliced as the
      // hex STRING (hex() is uppercase on both engines) and parsed via
      // the '0x'||…::INT/::BIGINT casts — same bytes, same integer
      // values (dims are BIGINT on both sides: an 8-nibble field can
      // exceed INT32, see Multimodal.decodeMetaExpr).
      s"""WITH h AS (
         |  SELECT media_id, content, hex(content) AS hx,
         |    (content IS NOT NULL AND octet_length(content) >= 15) AS len_ok
         |  FROM read_parquet('${operators.Multimodal.scratchCorpusPath}/*.parquet')),
         |k AS (
         |  SELECT media_id, content, hx,
         |    (len_ok AND substr(hx, 1, 4) = '4752') AS magic_ok,
         |    CASE WHEN len_ok AND substr(hx, 1, 4) = '4752'
         |         THEN ('0x' || substr(hx, 5, 2))::INT END AS kind_code
         |  FROM h),
         |m AS (
         |  SELECT media_id,
         |    CASE kind_code WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
         |         WHEN 2 THEN 'video' ELSE 'unknown' END AS kind,
         |    CASE WHEN magic_ok AND kind_code BETWEEN 0 AND 2
         |         THEN ('0x' || substr(hx, 7, 8))::BIGINT ELSE 0 END AS width,
         |    COALESCE(octet_length(content), 0)::BIGINT AS byte_size
         |  FROM k)
         |SELECT kind, count(*)::BIGINT AS n,
         |  sum(byte_size)::BIGINT AS total_bytes,
         |  sum(width)::BIGINT::DOUBLE / count(*) AS avg_width
         |FROM m GROUP BY kind""".stripMargin),
    Gate("q40_ivf_ann", (s, dir) => {
      // IVF ANN: coarse-quantizer cells + multi-probe exact re-rank.
      // iters=0 keeps the quantizer a pure function of the first 16
      // vectors, so the DuckDB oracle can replicate the cells exactly
      // (the k-means path, iters>0, is covered by SimilaritySpec).
      val emb = tbl(s, dir, "embeddings")
      Similarity.ivfTopK(emb.where(col("vec_id") < 10), emb,
        "vec_id", "embedding", k = 5, nCentroids = 16, nProbe = 4,
        iters = 0)
    },
      // IVF with the deterministic sample quantizer: cells are the first
      // 16 vectors (iters=0 on the Spark side), assignment/probing by
      // argmin(||c||^2 - 2 v.c) with ties to the lowest cell — identical
      // float->double accumulation on both engines
      """WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |cells AS (SELECT vec_id AS cell, v AS cv, list_dot_product(v, v) AS c2
        |  FROM (SELECT vec_id, v, row_number() OVER (ORDER BY vec_id) AS rn
        |    FROM base) WHERE rn <= 16),
        |dist AS (SELECT b.vec_id, c.cell,
        |    c.c2 - 2 * list_dot_product(b.v, c.cv) AS d
        |  FROM base b CROSS JOIN cells c),
        |assign AS (SELECT vec_id, cell FROM (
        |  SELECT vec_id, cell, row_number() OVER (
        |    PARTITION BY vec_id ORDER BY d, cell) AS rn FROM dist)
        |  WHERE rn = 1),
        |probes AS (SELECT vec_id, cell FROM (
        |  SELECT vec_id, cell, row_number() OVER (
        |    PARTITION BY vec_id ORDER BY d, cell) AS rn FROM dist
        |  WHERE vec_id < 10) WHERE rn <= 4),
        |c AS (SELECT b.vec_id AS cand_id, b.v AS cv2,
        |    sqrt(list_dot_product(b.v, b.v)) AS cn, a.cell
        |  FROM base b JOIN assign a USING (vec_id)),
        |q AS (SELECT b.vec_id AS query_id, b.v AS qv,
        |    sqrt(list_dot_product(b.v, b.v)) AS qn, p.cell
        |  FROM base b JOIN probes p ON b.vec_id = p.vec_id),
        |scored AS (SELECT query_id, cand_id,
        |    list_dot_product(qv, cv2) / (qn * cn) AS cosine
        |  FROM c JOIN q USING (cell) WHERE query_id <> cand_id)
        |SELECT query_id, cand_id, cosine, rank FROM (
        |  SELECT query_id, cand_id, cosine, row_number() OVER (
        |    PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS rank
        |  FROM scored) WHERE rank <= 5""".stripMargin),
    Gate("q42_rolling_fingerprint", (s, dir) => {
      // single-pass Rabin-Karp fingerprint (custom codegen expression;
      // oracle replicates the mod-2^61-1 Horner scheme in HUGEINT)
      tbl(s, dir, "documents").select(col("doc_id"),
        graft.expressions.RollingHashMin(col("text"), lit(16)).as("fp"))
    },
      // Rabin-Karp min rolling hash replicated with HUGEINT Horner
      // reduction — same B=257, M=2^61-1, byte==codepoint (corpus is
      // ASCII; RollingHashMin hashes UTF-8 bytes)
      """WITH docs AS (SELECT doc_id, text, length(text) AS n,
        |    least(16, length(text)) AS kk FROM documents),
        |w AS (SELECT doc_id, text, kk,
        |    unnest(generate_series(1, n - kk + 1)) AS i
        |  FROM docs WHERE n > 0),
        |h AS (SELECT doc_id, list_reduce(
        |    list_prepend(0::HUGEINT, list_transform(
        |      generate_series(i, i + kk - 1),
        |      j -> ord(substr(text, j, 1))::HUGEINT)),
        |    (acc, c) -> (acc * 257 + c) % 2305843009213693951) AS hv
        |  FROM w)
        |SELECT doc_id, CAST(min(hv) AS BIGINT) AS fp FROM h GROUP BY doc_id
        |UNION ALL SELECT doc_id, 0 AS fp FROM docs WHERE n = 0""".stripMargin),
    Gate("q43_exact_dedup", (s, dir) => {
      // exact content dedup: md5-hash groups with deterministic keeper
      Dedup.exactGroups(tbl(s, dir, "documents"), "doc_id", "text")
    },
      """SELECT md5(lower(text)) AS text_hash, count(*) AS n_copies,
        |  min(doc_id) AS keeper_id
        |FROM documents GROUP BY md5(lower(text))""".stripMargin),
    Gate("q44_embed_near_dup", (s, dir) => {
      // embedding-cosine near-dup pairs via LSH bucketing (dedup family)
      Similarity.cosineNearDupPairs(tbl(s, dir, "embeddings"),
        "vec_id", "embedding", threshold = 0.3, nBits = 4, dim = 64)
    },
      embedNearDupSql),
    Gate("q54_simhash_pairs", (s, dir) => {
      // banded SimHash near-dup join (exact for hamming <= 1 via
      // 2 bands x 8 bits — buckets stay ~n/256)
      Dedup.simhashNearDup(tbl(s, dir, "documents"), "doc_id", "text",
        maxHamming = 1)
    },
      simhashPairsSql),
    Gate("q58_multimodal_pipeline", (s, dir) => {
      // full multimodal pipeline: decode -> quarantine invalids ->
      // resize-normalize images to a canonical 16x10 -> feature-extract
      // -> ANN top-3 per query blob (stub codec, real operator shapes).
      // FULLY ORACLED end-to-end via the q38 scratch-parquet trick: the
      // input corpus (rejects + a degenerate image included) is written
      // to parquet and DuckDB re-derives every stage from the same
      // bytes — header decode via hex slicing, nearest-neighbor resize
      // via generate_series byte arithmetic, the float32 pseudo-
      // embedding via a list_reduce fold with per-step FLOAT casts
      // (bit-equal to Java float accumulation), and cosine in double
      // via list_dot_product (same index-order accumulation as
      // FloatDotProduct — the q26 precedent).
      val path = Multimodal.scratchPipelinePath
      Multimodal.pipelineCorpus(s).repartition(2)
        .write.mode("overwrite").parquet(path)
      val corpus = s.read.parquet(path)
      val decoded = Multimodal.decode(corpus, "media_id", "content")
      val validIds = decoded.where(col("meta.valid")).select(col("id"))
      val valid = corpus.join(validIds, corpus("media_id") === validIds("id"))
        .select("media_id", "content")
      // only images resize will actually emit (positive dims) take the
      // resize path — a valid-but-degenerate header must flow through
      // unresized rather than silently losing its embedding
      val imageIds = decoded
        .where(col("meta.valid") && col("meta.kind") === "image" &&
          col("meta.width") > 0 && col("meta.height") > 0)
        .select(col("id"))
      val resizedImages = Multimodal.resize(
          valid.join(imageIds, valid("media_id") === imageIds("id"))
            .select("media_id", "content"),
          "media_id", "content", 16, 10)
        .select(col("id").as("media_id"), col("content"))
      val normalized = valid
        .join(imageIds, valid("media_id") === imageIds("id"), "left_anti")
        .unionByName(resizedImages)
      val feats = Multimodal.features(normalized, "media_id", "content", dim = 16)
        .select(col("id").as("vec_id"), col("embedding"))
      Similarity.cosineTopK(feats.where(col("vec_id") < 5), feats,
        "vec_id", "embedding", k = 3)
    },
      // End-to-end twin of the whole multimodal pipeline over the
      // scratch parquet q58 just wrote. Stage parity, bit-for-bit:
      //  * decode/quarantine — hex-string header slicing (q38 pattern);
      //  * resize — nearest-neighbor source index rebuilt per output
      //    pixel k (y=k//16, x=k%16; py=y*h//10, px=x*w//16) with
      //    string_agg(.. ORDER BY k) re-assembling the new blob hex,
      //    out-of-payload pixels reading '00' (Multimodal.resize:150);
      //  * features — the float32 accumulator v[c] += b/255.0f is
      //    replayed exactly: per component c = p % 16, the byte stream
      //    in position order folds through list_reduce with a FLOAT
      //    cast after every add (DuckDB FLOAT ops are IEEE binary32,
      //    same as Java float — verified bit-equal vs numpy float32);
      //  * cosine — list_dot_product over DOUBLE[] accumulates in index
      //    order exactly like FloatDotProduct (q26/q35 precedent), and
      //    the norm product divides identically, so the raw doubles
      //    hash-match with no rounding.
      s"""WITH ${mediaDecodeCte(operators.Multimodal.scratchPipelinePath)},
         |resz AS (
         |  SELECT media_id, $resizeHexSql AS hx2
         |  FROM (SELECT media_id, hx, len, w, h, unnest(range(0, 160)) AS k
         |        FROM valid WHERE kind_code = 0 AND w > 0 AND h > 0)
         |  GROUP BY media_id, hx),
         |normalized AS (
         |  SELECT media_id, hx FROM valid WHERE NOT (kind_code = 0 AND w > 0 AND h > 0)
         |  UNION ALL SELECT media_id, hx2 AS hx FROM resz),
         |bytes AS (
         |  SELECT media_id, unnest(range(0, length(hx)//2)) AS p, hx FROM normalized),
         |comp AS (
         |  SELECT media_id, p % 16 AS c,
         |    list(CAST(('0x' || substr(hx, p*2+1, 2))::INT::FLOAT / 255.0::FLOAT AS FLOAT)
         |         ORDER BY p) AS xs
         |  FROM bytes GROUP BY media_id, p % 16),
         |compv AS (
         |  SELECT media_id, c,
         |    list_reduce(list_prepend(0.0::FLOAT, xs), (a,x) -> CAST(a + x AS FLOAT))::DOUBLE AS val
         |  FROM comp),
         |emb AS (SELECT media_id, list(val ORDER BY c) AS v FROM compv GROUP BY media_id),
         |q AS (SELECT media_id AS query_id, v AS qv FROM emb WHERE media_id < 5),
         |c AS (SELECT media_id AS cand_id, v AS cv FROM emb),
         |scored AS (
         |  SELECT query_id, cand_id,
         |    list_dot_product(qv, cv)
         |      / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cosine
         |  FROM c, q WHERE query_id <> cand_id)
         |SELECT query_id, cand_id, cosine, rank FROM (
         |  SELECT query_id, cand_id, cosine, row_number() OVER (
         |    PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS rank
         |  FROM scored) WHERE rank <= 3""".stripMargin),
    Gate("q63_simhash64_pairs", (s, dir) => {
      // 64-bit SimHash near-dup pairs: wider fingerprint kills the
      // ~3.5% coincidental 16-bit collisions; maxHamming=3 banding is
      // 4 bands x 16 bits -> buckets ~n/65536 (pigeonhole-exact)
      simhashPairs(s, dir)
    },
      simhash64PairsSql),
    Gate("q64_ann_multiprobe", (s, dir) => {
      // multi-probe LSH: own bucket + 2 smallest-margin bit-flip
      // buckets per query (Lv et al. VLDB'07) — recovers neighbors lost
      // across bucket walls at the cost of 3 probes on the small side
      val emb = tbl(s, dir, "embeddings")
      Similarity.annTopKMultiProbe(emb.where(col("vec_id") < 10), emb,
        "vec_id", "embedding", k = 5, nBits = 8, dim = 64, nProbe = 3)
    },
      annMultiProbeSql),
    Gate("q66_minhash_estimate", (s, dir) => {
      // Broder minhash estimator over LSH-banded candidates: the
      // verification-free scale path (fixed-width signatures, no
      // shingle sets shipped); est = n_agree/16 is an exact rational
      Dedup.minhashJaccardEstimate(tbl(s, dir, "documents"), "doc_id",
        "text", k = 2, nHashes = 16, bandSize = 4)
    },
      minhashEstimateSql),
    Gate("q67_tfidf", (s, dir) => {
      // TF-IDF term weighting — the classic corpus-relevance operator:
      // two hash aggregates (term-in-doc counts, then document
      // frequency), idf joined back broadcast-small (vocab-sized).
      // No ranking on the double (a sub-ulp libm difference could flip
      // a rank); tfidf itself is rounded per hard rule 9 (ln may
      // differ in the last ulp across engines).
      val docs = tbl(s, dir, "documents")
      // corpus size stays IN the plan (1-row broadcast cross join) —
      // no driver-side count job per query construction
      val nDf = docs.agg(count("*").cast("double").as("__n"))
      val tf = docs
        .select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("term"))
        .groupBy("doc_id", "term").agg(count("*").as("tf"))
      // document frequency as a window over tf — ONE tokenize lineage
      // (a groupBy-then-join formulation would re-run the explode
      // subtree per consumer; ReuseExchange does not cover it)
      val withDf = tf.withColumn("df",
        count("*").over(Window.partitionBy("term")).cast("long"))
      withDf
        .crossJoin(broadcast(nDf))
        .select(col("doc_id"), col("term"), col("tf"),
          col("df"),
          round(col("tf") *
            (log((col("__n") + 1.0) / (col("df") + lit(1.0))) + lit(1.0)),
            9).as("tfidf"))
    },
      s"""WITH toks AS ($toksCte),
         |terms AS (SELECT doc_id, unnest(t) AS term FROM toks),
         |tfc AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY doc_id, term),
         |dfc AS (SELECT term, count(*) AS df FROM tfc GROUP BY term),
         |n AS (SELECT count(*) AS n FROM documents)
         |SELECT doc_id, term, tfc.tf AS tf, CAST(dfc.df AS BIGINT) AS df,
         |  round(tfc.tf * (ln((n.n + 1.0) / (dfc.df + 1.0)) + 1.0), 9) AS tfidf
         |FROM tfc JOIN dfc USING (term), n""".stripMargin),
    Gate("q70_session_window", (s, dir) => {
      // native session windows (the Structured-Streaming-shared
      // sessionizer) under the oracle gate: session_window merges
      // events whose [ts, ts+gap) windows overlap — a new session
      // starts iff the gap STRICTLY exceeds 30 min (verified: two
      // events exactly 30 min apart merge), i.e. the same boundary as
      // q36's lag/cumsum formulation, which is how the DuckDB twin
      // re-derives the sessions. sess_end = last event ts + gap.
      tbl(s, dir, "events")
        .groupBy(col("user_id"),
          session_window(col("ts"), "30 minutes").as("sess"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), col("sess.start").as("sess_start"),
          col("sess.end").as("sess_end"), col("n_events"))
    },
      sessionSql),
    Gate("q71_hash_split", (s, dir) => {
      // deterministic train/val/test assignment (Splits.hashSplit):
      // a pure function of doc_id — stable across re-runs, partition
      // counts and engines; the oracle re-derives every label from
      // the same md5 arithmetic. Zero-shuffle projection + one agg.
      Splits.hashSplit(tbl(s, dir, "documents"), "doc_id", "s42",
          Seq(("train", 90), ("val", 5), ("test", 5)))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          sum(TextFunctions.tokenCount(col("text")).cast("long")).as("n_tokens"),
          min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
    },
      // the split label re-derived from the same md5 arithmetic:
      // first 8 hex chars of md5(doc_id || ':s42') as int, mod 100
      s"""WITH toks AS ($toksCte),
         |b AS (SELECT doc_id, len(t) AS n_toks,
         |    ('0x' || substr(md5(doc_id::VARCHAR || ':s42'), 1, 8))::BIGINT % 100 AS bucket
         |  FROM toks),
         |l AS (SELECT doc_id, n_toks,
         |    CASE WHEN bucket < 90 THEN 'train'
         |         WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split
         |  FROM b)
         |SELECT split, count(*)::BIGINT AS n_docs,
         |  CAST(sum(n_toks) AS BIGINT) AS n_tokens,
         |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
         |FROM l GROUP BY split""".stripMargin),
    Gate("q72_langid_ngram", (s, dir) => {
      // character-n-gram-profile language ID (q21's word-marker twin,
      // Cavnar–Trenkle-style) in the RELATIONAL shape that scales:
      // trigrams evaluated ONCE per doc (explode), profile joined
      // broadcast (vocab-sized), argmax via max-count with a
      // deterministic min(lang) tiebreak (hard rule 4) — docs with no
      // profile hit fall back to the lexicographically first language
      // (every language ties at zero). A per-row score-column
      // formulation would re-evaluate the trigram extraction once per
      // language (Catalyst inlines aliased projections).
      import s.implicits._
      val docs = tbl(s, dir, "documents")
      val defaultLang = langMarkers.keys.min
      val tri = docs.select(col("doc_id"),
        explode(TextFunctions.charTrigrams(col("text"))).as("g"))
      val prof = TextFunctions.trigramProfile(langMarkers).toDF("lang_p", "g")
      val scores = tri.join(broadcast(prof), "g")
        .groupBy("doc_id", "lang_p").agg(count(lit(1)).as("cnt"))
      // argmax as a window over the one scores lineage (a
      // groupBy-max + join-back would re-run the explode/join subtree
      // per consumer, q67's note); the window and the groupBy share
      // the doc_id partitioning — no extra exchange
      val guess = scores
        .withColumn("mx", max("cnt").over(Window.partitionBy("doc_id")))
        .where(col("cnt") === col("mx"))
        .groupBy("doc_id").agg(min("lang_p").as("g_raw"))
      docs.select("doc_id", "lang")
        .join(guess, Seq("doc_id"), "left")
        .select(col("doc_id"), col("lang"),
          coalesce(col("g_raw"), lit(defaultLang)).as("guess"),
          (col("lang") === coalesce(col("g_raw"), lit(defaultLang))).as("correct"))
    },
      langIdNgramSql),
    Gate("q73_minhash_screen", (s, dir) => {
      // incremental ingest screen: the newest fifth of the corpus
      // screened against the rest via cross-side banded collisions
      // only — the admit-a-batch-into-100TB shape. The id-boundary
      // split makes the oracle exact: the symmetric estimator's pairs
      // restricted to doc_a < 400 <= doc_b are precisely the cross
      // pairs this operator emits.
      val docs = tbl(s, dir, "documents")
      Dedup.minhashScreen(
        docs.where(col("doc_id") < 400), docs.where(col("doc_id") >= 400),
        "doc_id", "text", k = 2, nHashes = 16, bandSize = 4)
    },
      // the symmetric estimator restricted to cross pairs at the id
      // boundary — exactly the screen's candidate set (see the query)
      s"""SELECT * FROM ($minhashEstimateSql)
         |WHERE doc_a < 400 AND doc_b >= 400""".stripMargin),
    Gate("q74_token_topk", (s, dir) => {
      // corpus vocabulary heavy hitters, exact: explode -> two-phase
      // hash agg (the shuffle carries (token, partial count), never
      // raw text) -> TakeOrderedAndProject (per-partition top-k heaps
      // merged on the driver, NO global sort — the only scalable
      // top-k shape). Tie at the boundary broken by token
      // (hard rule 4). The streaming twin is
      // StreamingHeavyHitters (Space-Saving: overestimates only,
      // true <= est <= true + err, spec-bounded).
      tbl(s, dir, "documents")
        .select(explode(TextFunctions.tokens(col("text"))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("tok"))
        .limit(100)
    },
      s"""WITH toks AS ($toksCte),
         |t2 AS (SELECT unnest(t) AS tok FROM toks)
         |SELECT tok, count(*)::BIGINT AS n FROM t2 GROUP BY tok
         |ORDER BY n DESC, tok LIMIT 100""".stripMargin),
    Gate("q75_embed_screen", (s, dir) => {
      // embedding-side ingest screen: newest fifth of the vectors
      // checked against the rest — cross-side bucket collisions only,
      // incoming side broadcast (q73's pattern for vector columns);
      // id-boundary split makes the oracle the symmetric near-dup
      // restricted to id_a < 400 <= id_b
      val emb = tbl(s, dir, "embeddings")
      Similarity.cosineScreen(
        emb.where(col("vec_id") < 400), emb.where(col("vec_id") >= 400),
        "vec_id", "embedding", threshold = 0.3, nBits = 4, dim = 64)
    },
      s"""SELECT * FROM ($embedNearDupSql)
         |WHERE id_a < 400 AND id_b >= 400""".stripMargin),
    Gate("q76_resize_oracle", (s, dir) => {
      // resize stage in isolation, byte-exact under the oracle: every
      // resizable image's re-encoded 16x10 blob compared as its full
      // hex string (header + nearest-neighbor payload) — DuckDB rebuilds
      // the identical string from the source bytes with generate_series
      // index arithmetic. q58 verifies resize only through the
      // embeddings it feeds; this pins the bytes themselves.
      val path = Multimodal.scratchResizePath
      Multimodal.pipelineCorpus(s).repartition(2)
        .write.mode("overwrite").parquet(path)
      val corpus = s.read.parquet(path)
      val decoded = Multimodal.decode(corpus, "media_id", "content")
      val imageIds = decoded
        .where(col("meta.valid") && col("meta.kind") === "image" &&
          col("meta.width") > 0 && col("meta.height") > 0)
        .select(col("id"))
      Multimodal.resize(
          corpus.join(imageIds, corpus("media_id") === imageIds("id"))
            .select("media_id", "content"),
          "media_id", "content", 16, 10)
        .select(col("id").as("media_id"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          hex(col("content")).as("blob_hex"))
    },
      // Byte-exact twin of Multimodal.resize over the scratch parquet
      // q76 just wrote: the full re-encoded blob hex (uppercase on both
      // engines) rebuilt from source bytes — same decode + index math
      // as q58's resz CTE, compared as the whole string.
      s"""WITH ${mediaDecodeCte(operators.Multimodal.scratchResizePath)}
         |SELECT media_id, 16::BIGINT AS width, 10::BIGINT AS height,
         |  $resizeHexSql AS blob_hex
         |FROM (SELECT media_id, hx, len, w, h, unnest(range(0, 160)) AS k
         |      FROM valid WHERE kind_code = 0 AND w > 0 AND h > 0)
         |GROUP BY media_id, hx""".stripMargin),
    Gate("q77_text_scrub", (s, dir) => {
      // normalize/scrub cleanup stage (runs before dedup in a corpus
      // pipeline) under the oracle: the text is deterministically
      // "dirtied" identically on both engines (mixed-case contact
      // email, URL, an NFC-DECOMPOSED e+U+0301, whitespace runs), then
      // NFC (custom codegen NfcNormalize) -> lower -> mask -> collapse.
      // Mask counts are taken pre-masking on the normalized text; int
      // sizes cast to long (hard rule 5).
      val raw = concat(col("text"),
        when(pmod(col("doc_id"), lit(7)) === 0,
          concat(lit("  Contact USER"), col("doc_id").cast("string"),
            lit("@Example.COM now"))).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(11)) === 0,
          lit(" see https://graft.example.com/docs?id=1 page")).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(13)) === 0,
          // "e" + U+0301 COMBINING ACUTE (decomposed): NFC must precompose
          lit(" café   bar")).otherwise(lit("")))
      val norm = lower(TextFunctions.nfc(raw))
      tbl(s, dir, "documents").select(col("doc_id"),
        TextFunctions.scrub(raw).as("clean"),
        size(regexp_extract_all(norm, lit(TextFunctions.EmailRe), lit(0)))
          .cast("long").as("n_emails"),
        size(regexp_extract_all(norm, lit(TextFunctions.UrlRe), lit(0)))
          .cast("long").as("n_urls"))
    },
      // Same deterministic dirtying (chr(769) = U+0301 combining
      // acute, decomposed), same NFC->lower->mask->collapse chain; the
      // shared EmailRe/UrlRe constants are interpolated so both
      // engines mask identical spans (Java regex and RE2 agree on
      // this pattern subset).
      s"""WITH d AS (
         |  SELECT doc_id, text ||
         |    CASE WHEN doc_id % 7 = 0
         |         THEN '  Contact USER' || doc_id::VARCHAR || '@Example.COM now'
         |         ELSE '' END ||
         |    CASE WHEN doc_id % 11 = 0
         |         THEN ' see https://graft.example.com/docs?id=1 page'
         |         ELSE '' END ||
         |    CASE WHEN doc_id % 13 = 0
         |         THEN ' cafe' || chr(769) || '   bar'
         |         ELSE '' END AS raw
         |  FROM documents),
         |n AS (SELECT doc_id, lower(nfc_normalize(raw)) AS t FROM d)
         |SELECT doc_id,
         |  trim(regexp_replace(regexp_replace(regexp_replace(t,
         |    '${TextFunctions.EmailRe}', '<email>', 'g'),
         |    '${TextFunctions.UrlRe}', '<url>', 'g'),
         |    '\\s+', ' ', 'g')) AS clean,
         |  len(regexp_extract_all(t, '${TextFunctions.EmailRe}'))::BIGINT AS n_emails,
         |  len(regexp_extract_all(t, '${TextFunctions.UrlRe}'))::BIGINT AS n_urls
         |FROM n""".stripMargin),
    Gate("q78_stratified_sample", (s, dir) => {
      // deterministic data-MIXTURE sampling (Splits.stratifiedSample):
      // per-stratum keep rates as a pure function of event_id — the
      // "50% web, 100% code" composition step of a training mix,
      // stable across re-runs/partitioning/engines (df.sample is
      // none of these). signup is absent from the map -> dropped.
      // Zero-shuffle codegen filter; the oracle re-derives membership
      // from the same md5 arithmetic.
      Splits.stratifiedSample(tbl(s, dir, "events"), "event_type",
          "event_id", "mix1",
          Map("click" -> 50, "view" -> 10, "purchase" -> 100, "error" -> 25))
        .select(col("event_id"), col("event_type"), col("user_id"))
    },
      // mixture membership re-derived from the q71 md5 arithmetic:
      // keep iff bucket(event_id, ':mix1') < the stratum's percent
      """SELECT event_id, event_type, user_id FROM events
        |WHERE ('0x' || substr(md5(event_id::VARCHAR || ':mix1'), 1, 8))::BIGINT % 100 <
        |  CASE event_type WHEN 'click' THEN 50 WHEN 'view' THEN 10
        |       WHEN 'purchase' THEN 100 WHEN 'error' THEN 25 ELSE 0 END""".stripMargin),
    Gate("q79_sequence_pack", (s, dir) => {
      // concat-and-chunk sequence packing (Packing.concatChunk):
      // md5-sharded, doc-id-ordered token spans cut every 512 tokens —
      // per-shard window over integer running sums, no global sort.
      Packing.concatChunk(tbl(s, dir, "documents"), "doc_id",
        TextFunctions.tokenCount(col("text")), seqLen = 512, shards = 8,
        salt = "p1")
    },
      // spans re-derived with the same shard deal (md5 mod 8), the
      // same doc-id-ordered exclusive running sum, and BIGINT floor
      // division (both sides non-negative, so Spark's div == //)
      s"""WITH toks AS ($toksCte),
         |d AS (SELECT doc_id, len(t)::BIGINT AS n_tokens,
         |    ('0x' || substr(md5(doc_id::VARCHAR || ':p1'), 1, 8))::BIGINT % 8 AS shard
         |  FROM toks WHERE len(t) > 0),
         |c AS (SELECT doc_id, n_tokens, shard,
         |    COALESCE(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS tok_start
         |  FROM d)
         |SELECT doc_id, n_tokens, shard, tok_start,
         |  tok_start // 512 AS first_bin,
         |  (tok_start + n_tokens - 1) // 512 AS last_bin
         |FROM c""".stripMargin),
    Gate("q80_decontaminate", (s, dir) => {
      // exact-overlap decontamination (Dedup.decontaminate): train
      // docs sharing any distinct 4-shingle with the doc_id%97==0
      // "benchmark" slice are flagged with shared-shingle evidence —
      // the eval side broadcasts, the corpus is never shuffled
      val docs = tbl(s, dir, "documents")
      Dedup.decontaminate(
        docs.where(pmod(col("doc_id"), lit(97)) =!= 0),
        docs.where(pmod(col("doc_id"), lit(97)) === 0),
        "doc_id", "text", k = 4)
    },
      decontaminateSql),
    Gate("q81_frame_sample", (s, dir) => {
      // video frame sampling under the oracle (the q58/q76 scratch
      // trick): every 2nd fixed-size frame of each valid video blob,
      // one row per sampled frame, the frame bytes compared as hex —
      // DuckDB re-derives frame boundaries with integer division over
      // the same parquet bytes. Partial tail frames are dropped on
      // both engines (nFrames = payload // frameBytes).
      val path = Multimodal.scratchFramesPath
      Multimodal.pipelineCorpus(s).repartition(2)
        .write.mode("overwrite").parquet(path)
      Multimodal.sampleFrames(s.read.parquet(path), "media_id", "content",
          frameBytes = 16, stride = 2)
        .select(col("id").as("media_id"),
          col("frameIdx").cast("long").as("frame_idx"),
          hex(col("frame")).as("frame_hex"))
    },
      // frame boundaries re-derived with BIGINT floor division over
      // the same hex bytes: nFrames = (len-15) // 16, indices
      // 0,2,4,... , frame f = 32 hex chars at offset 30 + f*32
      s"""WITH ${mediaDecodeCte(operators.Multimodal.scratchFramesPath)},
         |v AS (SELECT media_id, hx, (len - 15) // 16 AS nf
         |  FROM valid WHERE kind_code = 2),
         |f AS (SELECT media_id, hx, unnest(range(0, nf, 2)) AS frame_idx FROM v)
         |SELECT media_id, frame_idx::BIGINT AS frame_idx,
         |  substr(hx, 31 + frame_idx * 32, 32) AS frame_hex
         |FROM f""".stripMargin),
    Gate("q83_corpus_pipeline", (s, dir) => {
      // END-TO-END pipeline composition under ONE oracle — the stages
      // users actually chain: dirty corpus (q77's deterministic email
      // injection) -> scrub -> EXACT DEDUP ON THE CLEANED TEXT (docs
      // differing only in contact strings collapse once masked — the
      // reason scrub runs before dedup) -> deterministic split ->
      // per-split corpus stats, duplicates attributed to their
      // keeper's split.
      val raw = concat(col("text"),
        when(pmod(col("doc_id"), lit(7)) === 0,
          concat(lit("  Contact USER"), col("doc_id").cast("string"),
            lit("@Example.COM now"))).otherwise(lit("")))
      // keeper selection via windows, NOT agg + self-join: the join
      // formulation re-evaluates the whole NFC/regex scrub lineage on
      // the probe side (CLAUDE.md's multi-consumer note) — two window
      // functions over ONE hash exchange evaluate it once
      val cleaned = tbl(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.scrub(raw).as("clean"))
      val byHash = Window.partitionBy(md5(col("clean")))
      val keepers = cleaned
        .withColumn("rn", row_number().over(byHash.orderBy(col("doc_id"))))
        .withColumn("n_copies", count(lit(1)).over(byHash).cast("long"))
        .where(col("rn") === 1)
      Splits.hashSplit(keepers, "doc_id", "s42",
          Seq(("train", 90), ("val", 5), ("test", 5)))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          sum(TextFunctions.tokenCount(col("clean")).cast("long")).as("n_tokens"),
          (sum(col("n_copies")) - count(lit(1))).as("dupes_removed"))
    },
      // the same chain as CTEs: dirty -> scrub -> md5 dedup (min-id
      // keeper) -> md5 split label -> per-split stats
      s"""WITH d AS (
         |  SELECT doc_id, text ||
         |    CASE WHEN doc_id % 7 = 0
         |         THEN '  Contact USER' || doc_id::VARCHAR || '@Example.COM now'
         |         ELSE '' END AS raw
         |  FROM documents),
         |c AS (SELECT doc_id,
         |    trim(regexp_replace(regexp_replace(regexp_replace(lower(nfc_normalize(raw)),
         |      '${TextFunctions.EmailRe}', '<email>', 'g'),
         |      '${TextFunctions.UrlRe}', '<url>', 'g'),
         |      '\\s+', ' ', 'g')) AS clean
         |  FROM d),
         |k AS (SELECT doc_id, clean,
         |    row_number() OVER (PARTITION BY md5(clean) ORDER BY doc_id) AS rn,
         |    count(*) OVER (PARTITION BY md5(clean)) AS n_copies
         |  FROM c),
         |l AS (SELECT doc_id, n_copies, clean,
         |    CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR || ':s42'), 1, 8))::BIGINT % 100 < 90 THEN 'train'
         |         WHEN ('0x' || substr(md5(doc_id::VARCHAR || ':s42'), 1, 8))::BIGINT % 100 < 95 THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM k WHERE rn = 1)
         |SELECT split, count(*)::BIGINT AS n_docs,
         |  CAST(sum(len(list_filter(string_split(clean, ' '), x -> x <> ''))) AS BIGINT) AS n_tokens,
         |  (sum(n_copies) - count(*))::BIGINT AS dupes_removed
         |FROM l GROUP BY split""".stripMargin),
    Gate("q84_char_entropy", (s, dir) => {
      // character-entropy quality signal — the standard gibberish /
      // encoded-blob filter of a web-corpus pipeline: H = -sum_c p_c
      // log2 p_c over each doc's CODE POINTS. Per-char terms are
      // bit-identical on both engines; only the SUM order differs, so
      // H is rounded at 9 dp (hard rule 9; H is in [0, ~6.6] for
      // text, the boundary sits ~1e6 ulps above the noise).
      // `CharCounts` (native one-pass codepoint histogram) makes the
      // char unit a code point on BOTH engines by construction —
      // DuckDB's string_split('') and length() already count code
      // points — and emits one row per DISTINCT char, not per char
      // (q91 re-runs this exact shape on a supplementary-plane
      // corpus; Spark's `length` is UTF8String.numChars = code
      // points, so `len` needs no change).
      // + 0.0 on BOTH engines: a uniform-character doc yields -0.0
      // (every term is +0.0, negated) — Spark's round normalizes the
      // sign, DuckDB's preserves it, and the oracle hash is byte-exact
      // on doubles; adding +0.0 canonicalizes signed zero identically
      // (x + 0.0 == x for every other value)
      tbl(s, dir, "documents")
        .select(col("doc_id"), length(col("text")).cast("double").as("len"),
          explode(graft.expressions.CharCounts(col("text"))).as(Seq("ch", "n")))
        .groupBy("doc_id", "len")
        .agg(count(lit(1)).as("n_distinct_chars"),
          (round(-sum((col("n") / col("len")) * log2(col("n") / col("len"))), 9)
            + lit(0.0)).as("entropy"))
        .select("doc_id", "n_distinct_chars", "entropy")
    },
      // same per-char probability terms, same 9-dp rounding of the
      // order-sensitive sum
      """WITH ch AS (
        |  SELECT doc_id, length(text)::DOUBLE AS len,
        |    unnest(string_split(text, '')) AS ch
        |  FROM documents),
        |f AS (SELECT doc_id, len, ch, count(*) AS n
        |  FROM ch GROUP BY doc_id, len, ch)
        |SELECT doc_id, count(*)::BIGINT AS n_distinct_chars,
        |  round(-sum((n / len) * log2(n / len)), 9) + 0.0 AS entropy
        |FROM f GROUP BY doc_id""".stripMargin),
    Gate("q90_ivf_distributed", (s, dir) => {
      // THE 100 TB ANN ROUTING PATH end-to-end under the oracle: the
      // distributed quantizer (executor-side Lloyd, exact BigDecimal
      // cell sums — bit-identical centroids under ANY partitioning,
      // `IvfQuantizerSpec`) trains on the full embeddings table, the
      // centroids land in scratch parquet, and `ivfTopKWithCentroids`
      // routes + re-ranks with them. DuckDB re-derives assignment,
      // probes and the exact cosine top-k from the SAME centroid bytes
      // (q40's SQL shape) — every float→double step is exact and both
      // engines fold dot products in index order, so the gate is
      // hash-exact, not approximate.
      val path = Similarity.scratchCentroidsPath
      val emb = tbl(s, dir, "embeddings")
      val centroids = Similarity.quantizeDistributed(
        emb, "vec_id", "embedding", nCentroids = 16, iters = 3)
      import s.implicits._
      centroids.toSeq.zipWithIndex.map { case (c, j) => (j, c) }
        .toDF("cell", "cv")
        .coalesce(1).write.mode("overwrite").parquet(path)
      Similarity.ivfTopKWithCentroids(emb.where(col("vec_id") < 10), emb,
        "vec_id", "embedding", k = 5, centroids, nProbe = 4)
    },
      // q40's assignment/probe/re-rank SQL, with the coarse quantizer
      // read from the scratch centroids the distributed Lloyd pass
      // just wrote (instead of iters=0 seed vectors) — same exact
      // index-order double folds on both engines.
      s"""WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |cells AS (SELECT cell, cv::DOUBLE[] AS cv,
         |    list_dot_product(cv::DOUBLE[], cv::DOUBLE[]) AS c2
         |  FROM read_parquet('${operators.Similarity.scratchCentroidsPath}/*.parquet')),
         |dist AS (SELECT b.vec_id, c.cell,
         |    c.c2 - 2 * list_dot_product(b.v, c.cv) AS d
         |  FROM base b CROSS JOIN cells c),
         |assign AS (SELECT vec_id, cell FROM (
         |  SELECT vec_id, cell, row_number() OVER (
         |    PARTITION BY vec_id ORDER BY d, cell) AS rn FROM dist)
         |  WHERE rn = 1),
         |probes AS (SELECT vec_id, cell FROM (
         |  SELECT vec_id, cell, row_number() OVER (
         |    PARTITION BY vec_id ORDER BY d, cell) AS rn FROM dist
         |  WHERE vec_id < 10) WHERE rn <= 4),
         |c AS (SELECT b.vec_id AS cand_id, b.v AS cv2,
         |    sqrt(list_dot_product(b.v, b.v)) AS cn, a.cell
         |  FROM base b JOIN assign a USING (vec_id)),
         |q AS (SELECT b.vec_id AS query_id, b.v AS qv,
         |    sqrt(list_dot_product(b.v, b.v)) AS qn, p.cell
         |  FROM base b JOIN probes p ON b.vec_id = p.vec_id),
         |scored AS (SELECT query_id, cand_id,
         |    list_dot_product(qv, cv2) / (qn * cn) AS cosine
         |  FROM c JOIN q USING (cell) WHERE query_id <> cand_id)
         |SELECT query_id, cand_id, cosine, rank FROM (
         |  SELECT query_id, cand_id, cosine, row_number() OVER (
         |    PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS rank
         |  FROM scored) WHERE rank <= 5""".stripMargin),
    Gate("q91_unicode_planes", (s, dir) => {
      // the supplementary-plane gate for the whole text family: the
      // corpus is deterministically salted with non-BMP code points
      // (emoji U+1F600/U+1F680/U+1F916, CJK ext B U+20000/U+20001 —
      // all TWO UTF-16 units each) plus a decomposed e+U+0301, written
      // to scratch parquet, and BOTH engines re-derive codepoint
      // length, the q84 entropy shape (CharCounts) and the q72
      // char-trigram count from the same bytes. Before CharCounts /
      // codepoint substr, Spark's UTF-16 splits would shear every
      // emoji into two lone surrogates here — this entry is what
      // proves the caveat is retired by construction, not by an
      // ASCII-only corpus.
      val path = TextFunctions.scratchUnicodePath
      val salted = concat(col("text"),
        when(pmod(col("doc_id"), lit(3)) === 0,
          lit(" 😀😀🚀 emoji")).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(5)) === 0,
          lit(" 𠀀𠀁𠀀")).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(7)) === 0,
          lit(" 🤖bots🤖 café")).otherwise(lit("")))
      tbl(s, dir, "documents").where(col("doc_id") < 500)
        .select(col("doc_id"), salted.as("text"))
        .write.mode("overwrite").parquet(path)
      val src = s.read.parquet(path)
      src.select(col("doc_id"),
          length(col("text")).cast("long").as("n_cp"),
          length(col("text")).cast("double").as("len"),
          size(TextFunctions.charTrigrams(col("text"))).cast("long")
            .as("n_trigrams"),
          explode(graft.expressions.CharCounts(col("text"))).as(Seq("ch", "n")))
        .groupBy("doc_id", "n_cp", "len", "n_trigrams")
        .agg(count(lit(1)).as("n_distinct_chars"),
          (round(-sum((col("n") / col("len")) * log2(col("n") / col("len"))), 9)
            + lit(0.0)).as("entropy"))
        .select("doc_id", "n_cp", "n_trigrams", "n_distinct_chars", "entropy")
    },
      // Re-derives codepoint length, entropy, and the q72 trigram
      // count from the SAME scratch parquet bytes the Spark query just
      // salted with supplementary-plane text — DuckDB's length /
      // string_split('') / substr are all codepoint-based, which is
      // exactly what CharCounts and UTF8String.substringSQL give Spark.
      s"""WITH src AS (SELECT doc_id, text
         |  FROM read_parquet('${functions.TextFunctions.scratchUnicodePath}/*.parquet')),
         |tri AS (SELECT doc_id, list_distinct(flatten(list_transform(
         |    list_filter(list_filter(string_split(lower(text), ' '), x -> x <> ''),
         |      w -> len(w) >= 3),
         |    w -> list_transform(generate_series(1, len(w) - 2),
         |      i -> substr(w, i, 3))))) AS gs
         |  FROM src),
         |ch AS (SELECT doc_id, length(text)::DOUBLE AS len,
         |    unnest(string_split(text, '')) AS ch
         |  FROM src),
         |f AS (SELECT doc_id, len, ch, count(*) AS n
         |  FROM ch GROUP BY doc_id, len, ch),
         |ent AS (SELECT doc_id, count(*)::BIGINT AS n_distinct_chars,
         |    round(-sum((n / len) * log2(n / len)), 9) + 0.0 AS entropy
         |  FROM f GROUP BY doc_id)
         |SELECT s.doc_id, length(s.text)::BIGINT AS n_cp,
         |  len(t.gs)::BIGINT AS n_trigrams,
         |  e.n_distinct_chars, e.entropy
         |FROM src s JOIN tri t ON s.doc_id = t.doc_id
         |JOIN ent e ON s.doc_id = e.doc_id""".stripMargin),
    Gate("q92_pack_bins", (s, dir) => {
      // the consumer-side inverse of q79: per training bin, the
      // ordered (doc, doc_off, len) slices that fill it — proves the
      // cut arithmetic from the loader's side (slices tile every bin).
      // Same integer math, no shuffle beyond q79's one exchange.
      Packing.binSlices(
        Packing.concatChunk(tbl(s, dir, "documents"), "doc_id",
          TextFunctions.tokenCount(col("text")), seqLen = 512, shards = 8,
          salt = "p1"),
        "doc_id", seqLen = 512)
    },
      // q79's span CTE + generate_series over first_bin..last_bin;
      // slice bounds by integer max/min against the bin walls
      s"""WITH toks AS ($toksCte),
         |d AS (SELECT doc_id, len(t)::BIGINT AS n_tokens,
         |    ('0x' || substr(md5(doc_id::VARCHAR || ':p1'), 1, 8))::BIGINT % 8 AS shard
         |  FROM toks WHERE len(t) > 0),
         |c AS (SELECT doc_id, n_tokens, shard,
         |    COALESCE(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS tok_start
         |  FROM d),
         |b AS (SELECT doc_id, n_tokens, shard, tok_start,
         |    unnest(generate_series(tok_start // 512,
         |      (tok_start + n_tokens - 1) // 512)) AS bin_id
         |  FROM c),
         |sl AS (SELECT shard, bin_id, doc_id,
         |    greatest(bin_id * 512, tok_start) AS s,
         |    least((bin_id + 1) * 512, tok_start + n_tokens) AS e,
         |    tok_start
         |  FROM b)
         |SELECT shard, bin_id, doc_id,
         |  (s - bin_id * 512)::BIGINT AS bin_off,
         |  (s - tok_start)::BIGINT AS doc_off,
         |  (e - s)::BIGINT AS len
         |FROM sl""".stripMargin),
    Gate("q94_repetition_signals", (s, dir) => {
      // Gopher-style repetition quality filters (Rae et al. '21 §A1.1
      // — the standard web-corpus gibberish/boilerplate screens),
      // token-level for these single-line docs: coverage of the most
      // frequent 2-gram, fraction of 2-gram instances that are
      // duplicates, and the repeated-token fraction. The signal is
      // purely doc-local, so it's ONE native expression pass inside
      // codegen — a ZERO-exchange scan (plan-guarded), not an
      // explode+groupBy (which also re-evaluates the interpreted
      // size/array_distinct HOFs per exploded row — see
      // RepetitionStats scaladoc). Every ratio is ONE double division
      // of exactly-representable integer counts — bit-equal across
      // engines, no rounding needed (hard rule 9's exact-arithmetic
      // variant). Docs under 2 tokens have no 2-grams and are
      // screened out (null stats) identically on both sides.
      tbl(s, dir, "documents")
        .select(col("doc_id"),
          graft.expressions.RepetitionStats(col("text"), lit(2)).as("r"))
        .where(col("r").isNotNull)
        .select(col("doc_id"), col("r.n_tokens").as("n_tokens"),
          ((col("r.mx") * 2).cast("double") / col("r.n_tokens").cast("double"))
            .as("top2_frac"),
          (col("r.dup").cast("double") / col("r.tot").cast("double"))
            .as("dup2_frac"),
          ((col("r.n_tokens") - col("r.n_dtoks")).cast("double")
            / col("r.n_tokens").cast("double")).as("dup_tok_frac"))
    },
      // same non-distinct 2-gram explode; each ratio is one division
      // of exact integer counts — no rounding on either engine
      s"""WITH toks AS ($toksCte),
         |g AS (SELECT doc_id, len(t)::BIGINT AS n_tokens,
         |    len(list_distinct(t))::BIGINT AS n_dtoks,
         |    unnest(list_transform(generate_series(1, len(t) - 1),
         |      i -> t[i] || ' ' || t[i+1])) AS g
         |  FROM toks WHERE len(t) >= 2),
         |pg AS (SELECT doc_id, n_tokens, n_dtoks, g, count(*) AS c
         |  FROM g GROUP BY doc_id, n_tokens, n_dtoks, g)
         |SELECT doc_id, n_tokens,
         |  (max(c) * 2)::DOUBLE / n_tokens::DOUBLE AS top2_frac,
         |  sum(CASE WHEN c > 1 THEN c ELSE 0 END)::DOUBLE
         |    / sum(c)::DOUBLE AS dup2_frac,
         |  (n_tokens - n_dtoks)::DOUBLE / n_tokens::DOUBLE AS dup_tok_frac
         |FROM pg GROUP BY doc_id, n_tokens, n_dtoks""".stripMargin),
    Gate("q96_near_dup_clusters", (s, dir) => {
      // PAIRS → CLUSTERS: the step every near-dup family feeds — q63's
      // simhash pairs become dedup groups via distributed connected
      // components (large-star/small-star contraction, O(log n) rounds
      // at any diameter; see Components scaladoc), then every doc gets
      // (cluster_id = component min, cluster_size, is_keeper) with
      // singletons clustering to themselves. The fixpoint is unique,
      // so the labeling is deterministic under any partitioning — what
      // lets DuckDB re-derive it by recursive min-reachability over
      // the same pair SQL.
      val docs = tbl(s, dir, "documents")
      val pairs = simhashPairs(s, dir)
      val comp = Components.connectedComponents(pairs, "doc_a", "doc_b")
      val lab = docs.select(col("doc_id"))
        .join(comp, col("doc_id") === col("node"), "left")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("cluster_id"))
      val sizes = lab.groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
      // materialize BEFORE releasing the operator-owned caches (the
      // label frame is a localCheckpoint — dropping its blocks while
      // `out` is still lazy would strand the lineage)
      val out = lab.join(sizes, "cluster_id")
        .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
          (col("doc_id") === col("cluster_id")).as("is_keeper"))
        .localCheckpoint()
      comp.unpersist() // pairs stays persisted (memo-owned)
      out
    },
      componentsSql),
    Gate("q97_domain_cap", (s, dir) => {
      // per-domain frequency-cap sampling — the C4/RefinedWeb-style
      // guard against one host dominating the corpus: extract each
      // doc's (injected, deterministic) URL host, count docs per
      // domain, and keep at most 12 per domain chosen by md5 hash
      // order (a deterministic "random" subsample both engines rank
      // identically; doc_id tiebreak, hard rule 4). Two window
      // functions over ONE domain exchange — no self-join (the q83
      // keeper trick).
      val url = when(pmod(col("doc_id"), lit(3)) === 0,
        concat(lit(" see https://h"), pmod(col("doc_id"), lit(10)).cast("string"),
          lit(".example.com/p?id="), col("doc_id").cast("string")))
        .otherwise(lit(""))
      val w = Window.partitionBy("domain")
      tbl(s, dir, "documents")
        .select(col("doc_id"),
          regexp_extract(concat(col("text"), url),
            "https?://([a-z0-9.-]+)", 1).as("domain"))
        .where(col("domain") =!= "")
        .withColumn("n_domain_docs", count(lit(1)).over(w).cast("long"))
        .withColumn("rk", row_number().over(
          w.orderBy(md5(col("doc_id").cast("string")), col("doc_id"))))
        .select(col("doc_id"), col("domain"), col("n_domain_docs"),
          (col("rk") <= 12).as("kept"))
    },
      // same injected URLs, same host regex, same md5-order cap rank
      """WITH d AS (
        |  SELECT doc_id, text ||
        |    CASE WHEN doc_id % 3 = 0
        |         THEN ' see https://h' || (doc_id % 10)::VARCHAR
        |           || '.example.com/p?id=' || doc_id::VARCHAR
        |         ELSE '' END AS t
        |  FROM documents),
        |h AS (SELECT doc_id,
        |    regexp_extract(t, 'https?://([a-z0-9.-]+)', 1) AS domain
        |  FROM d),
        |r AS (SELECT doc_id, domain,
        |    count(*) OVER (PARTITION BY domain) AS n_domain_docs,
        |    row_number() OVER (PARTITION BY domain
        |      ORDER BY md5(doc_id::VARCHAR), doc_id) AS rk
        |  FROM h WHERE domain <> '')
        |SELECT doc_id, domain, n_domain_docs::BIGINT AS n_domain_docs,
        |  rk <= 12 AS kept
        |FROM r""".stripMargin),
    Gate("q98_pii_scrub", (s, dir) => {
      // the FULL PII cleanup pass a public-corpus release runs (q77's
      // scrub + phone + IPv4 masks): deterministic dirtying on both
      // engines, fixed mask order (email/URL before phone/IP — an URL
      // carries digit runs the IP pattern would bite into), counts
      // taken pre-masking on the normalized text (ints → long).
      val raw = concat(col("text"),
        when(pmod(col("doc_id"), lit(7)) === 0,
          concat(lit("  Contact USER"), col("doc_id").cast("string"),
            lit("@Example.COM now"))).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(5)) === 0,
          concat(lit(" call (555) 123-"),
            lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")))
          .otherwise(lit("")),
        when(pmod(col("doc_id"), lit(9)) === 0,
          concat(lit(" from 10.0."), pmod(col("doc_id"), lit(256)).cast("string"),
            lit("."), pmod(col("doc_id") * 7, lit(256)).cast("string"),
            lit(" today"))).otherwise(lit("")))
      val norm = lower(TextFunctions.nfc(raw))
      tbl(s, dir, "documents").select(col("doc_id"),
        TextFunctions.scrubPii(raw).as("clean"),
        size(regexp_extract_all(norm, lit(TextFunctions.PhoneRe), lit(0)))
          .cast("long").as("n_phones"),
        size(regexp_extract_all(norm, lit(TextFunctions.Ipv4Re), lit(0)))
          .cast("long").as("n_ips"))
    },
      // same dirtying, same mask chain with the shared regex constants
      s"""WITH d AS (
         |  SELECT doc_id, text ||
         |    CASE WHEN doc_id % 7 = 0
         |         THEN '  Contact USER' || doc_id::VARCHAR || '@Example.COM now'
         |         ELSE '' END ||
         |    CASE WHEN doc_id % 5 = 0
         |         THEN ' call (555) 123-' || lpad((doc_id % 10000)::VARCHAR, 4, '0')
         |         ELSE '' END ||
         |    CASE WHEN doc_id % 9 = 0
         |         THEN ' from 10.0.' || (doc_id % 256)::VARCHAR || '.'
         |           || ((doc_id * 7) % 256)::VARCHAR || ' today'
         |         ELSE '' END AS raw
         |  FROM documents),
         |n AS (SELECT doc_id, lower(nfc_normalize(raw)) AS t FROM d)
         |SELECT doc_id,
         |  trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(t,
         |    '${TextFunctions.EmailRe}', '<email>', 'g'),
         |    '${TextFunctions.UrlRe}', '<url>', 'g'),
         |    '${TextFunctions.PhoneRe}', '<phone>', 'g'),
         |    '${TextFunctions.Ipv4Re}', '<ip>', 'g'),
         |    '\\s+', ' ', 'g')) AS clean,
         |  len(regexp_extract_all(t, '${TextFunctions.PhoneRe}'))::BIGINT AS n_phones,
         |  len(regexp_extract_all(t, '${TextFunctions.Ipv4Re}'))::BIGINT AS n_ips
         |FROM n""".stripMargin),
    Gate("q99_bloom_decontaminate", (s, dir) => {
      // q80's decontamination in the TOO-BIG-TO-BROADCAST regime: a
      // Bloom filter over the eval shingle hashes pre-filters the
      // train explode before a SHUFFLE join (pinned sort-merge — the
      // shape the operator models); the exact join kills the filter's
      // false positives, so the answer is bit-equal to q80 and the
      // oracle is the same SQL. The 100 TB claim under gate: the
      // shuffle carries ~fpp × train shingles + true matches, never
      // the whole explode, and the filter broadcasts at ANY eval size.
      val docs = tbl(s, dir, "documents")
      Dedup.decontaminateBloom(
        docs.where(pmod(col("doc_id"), lit(97L)) =!= 0),
        docs.where(pmod(col("doc_id"), lit(97L)) === 0),
        "doc_id", "text", k = 4)
    },
      // q99 is q80 with a Bloom pre-filter + shuffle join: false
      // positives die in the exact join, so the answer — and the
      // oracle — are identical. Bloom prefilter == exact, gated.
      decontaminateSql),
    Gate("q101_semdedup", (s, dir) => {
      // SEMANTIC DEDUP (SemDeDup, Abbas et al. 2023): quantize the
      // embedding space with the distributed Lloyd pass (bit-identical
      // centroids under any partitioning), then within each cell drop
      // every vector with a higher-priority cosine>=tau neighbor,
      // priority = closest-to-centroid (tie: id). Centroids land in
      // scratch parquet (own path — q101 never depends on q90), and
      // DuckDB re-derives assignment, priorities and the dropped set
      // from the same bytes — every float→double step exact, no
      // rounding anywhere.
      val path = Similarity.scratchSemCentroidsPath
      val emb = tbl(s, dir, "embeddings")
      val centroids = Similarity.quantizeDistributed(
        emb, "vec_id", "embedding", nCentroids = 16, iters = 3)
      import s.implicits._
      centroids.toSeq.zipWithIndex.map { case (c, j) => (j, c) }
        .toDF("cell", "cv")
        .coalesce(1).write.mode("overwrite").parquet(path)
      Similarity.semDedup(emb, "vec_id", "embedding", centroids, tau = 0.3)
    },
      // assignment re-derived from the scratch centroid bytes (q90's
      // argmin shape, keeping d as the priority), then the dropped set
      // = vectors with a higher-priority cosine>=0.3 neighbor in the
      // same cell; all doubles bit-exact (index-order folds), the
      // boolean falls out of a left join.
      s"""WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |cells AS (SELECT cell, cv::DOUBLE[] AS cv,
         |    list_dot_product(cv::DOUBLE[], cv::DOUBLE[]) AS c2
         |  FROM read_parquet('${operators.Similarity.scratchSemCentroidsPath}/*.parquet')),
         |dist AS (SELECT b.vec_id, c.cell,
         |    c.c2 - 2 * list_dot_product(b.v, c.cv) AS d
         |  FROM base b CROSS JOIN cells c),
         |assign AS (SELECT vec_id, cell, d AS cd FROM (
         |  SELECT vec_id, cell, d, row_number() OVER (
         |    PARTITION BY vec_id ORDER BY d, cell) AS rn FROM dist)
         |  WHERE rn = 1),
         |m AS (SELECT a.vec_id, a.cell, a.cd, b.v,
         |    sqrt(list_dot_product(b.v, b.v)) AS nrm
         |  FROM assign a JOIN base b USING (vec_id)),
         |dropped AS (SELECT DISTINCT y.vec_id
         |  FROM m y JOIN m x ON y.cell = x.cell
         |   AND (x.cd < y.cd OR (x.cd = y.cd AND x.vec_id < y.vec_id))
         |   AND list_dot_product(x.v, y.v) / (x.nrm * y.nrm) >= 0.3)
         |SELECT a.vec_id, CAST(a.cell AS BIGINT) AS cell, a.cd,
         |  d.vec_id IS NULL AS kept
         |FROM assign a LEFT JOIN dropped d ON a.vec_id = d.vec_id""".stripMargin),
    Gate("q102_dsir_sampling", (s, dir) => {
      // DSIR importance sampling (Xie et al. 2023): raw docs scored by
      // a hashed-bigram log-likelihood ratio against a target-domain
      // sample (%13 docs), selection shard-parallel (md5 deal — a
      // global rank would funnel the corpus through one partition).
      // One hash exchange for the (doc,bucket) counts, the 256-row
      // log-ratio table broadcasts, same md5 buckets on both engines.
      val docs = tbl(s, dir, "documents")
      Importance.dsirWeights(
        docs.where(pmod(col("doc_id"), lit(13L)) =!= 0),
        docs.where(pmod(col("doc_id"), lit(13L)) === 0),
        "doc_id", "text")
    },
      // same hashed-bigram models: md5-slice buckets, Laplace-smoothed
      // target/raw distributions over a 0..255 spine, identical
      // round(·,4) on the per-doc log-ratio sum (rule 9), md5 shard
      // deal + (weight desc, doc_id) ranks, selected = top quarter
      // per shard under integer floor semantics.
      s"""WITH toks AS ($toksCte),
         |big AS (SELECT doc_id, unnest(list_transform(
         |    generate_series(1, len(t) - 1), i -> t[i] || ' ' || t[i+1])) AS s
         |  FROM toks),
         |b AS (SELECT doc_id,
         |    ('0x' || substr(md5(s || ':dsir'), 1, 8))::BIGINT % 256 AS bucket
         |  FROM big),
         |tgt AS (SELECT bucket, count(*) AS tc FROM b
         |  WHERE doc_id % 13 = 0 GROUP BY bucket),
         |rawc AS (SELECT doc_id, bucket, count(*) AS cnt FROM b
         |  WHERE doc_id % 13 <> 0 GROUP BY doc_id, bucket),
         |rb AS (SELECT bucket, sum(cnt) AS rc FROM rawc GROUP BY bucket),
         |tots AS (SELECT (SELECT coalesce(sum(tc), 0) FROM tgt)::DOUBLE AS ttot,
         |    (SELECT coalesce(sum(rc), 0) FROM rb)::DOUBLE AS rtot),
         |spine AS (SELECT unnest(generate_series(0, 255))::BIGINT AS bucket),
         |lr AS (SELECT spine.bucket,
         |    ln((coalesce(tc, 0) + 1.0) / (ttot + 256.0))
         |      - ln((coalesce(rc, 0) + 1.0) / (rtot + 256.0)) AS lr
         |  FROM spine LEFT JOIN tgt USING (bucket)
         |    LEFT JOIN rb USING (bucket), tots),
         |pd AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_feats,
         |    round(sum(cnt * lr), 4) AS weight
         |  FROM rawc JOIN lr USING (bucket) GROUP BY doc_id),
         |sh AS (SELECT doc_id, n_feats, weight,
         |    ('0x' || substr(md5(doc_id::VARCHAR || ':dsir:shard'), 1, 8))::BIGINT % 32 AS shard
         |  FROM pd),
         |rk AS (SELECT doc_id, n_feats, weight, shard,
         |    CAST(row_number() OVER (
         |      PARTITION BY shard ORDER BY weight DESC, doc_id) AS BIGINT) AS shard_rank,
         |    CAST(count(*) OVER (PARTITION BY shard) AS BIGINT) AS shard_n
         |  FROM sh)
         |SELECT doc_id, n_feats, weight, shard, shard_rank, shard_n,
         |  shard_rank * 4 <= shard_n AS selected
         |FROM rk""".stripMargin),
    Gate("q103_repeated_spans", (s, dir) => {
      // intra-corpus exact-substring dedup (Lee et al. 2022): 4-gram
      // occurrences counted corpus-wide on ONE posexplode lineage
      // (window over the shingle, q67 trick), positions of repeated
      // 4-grams merged into maximal spans per doc via gaps-and-islands
      // — two exchanges, no self-join, no suffix sort.
      Dedup.repeatedSpans(tbl(s, dir, "documents"), "doc_id", "text", k = 4)
    },
      // same derivation: positional 4-grams, corpus-wide occurrence
      // window, islands by pos - row_number; end_tok = last marked
      // position + 3 (the k-1 tail of the final shingle).
      s"""WITH toks AS ($toksCte),
         |sh AS (SELECT doc_id, unnest(list_transform(
         |    generate_series(1, len(t) - 3),
         |    i -> struct_pack(pos := i,
         |      s := t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]))) AS e
         |  FROM toks),
         |p AS (SELECT doc_id, e.pos AS pos, e.s AS s FROM sh),
         |m AS (SELECT doc_id, pos FROM (
         |  SELECT doc_id, pos, count(*) OVER (PARTITION BY s) AS occ FROM p)
         |  WHERE occ > 1),
         |isl AS (SELECT doc_id, pos,
         |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
         |  FROM m)
         |SELECT doc_id, CAST(min(pos) AS BIGINT) AS start_tok,
         |  CAST(max(pos) + 3 AS BIGINT) AS end_tok,
         |  count(*)::BIGINT AS n_dup_shingles
         |FROM isl GROUP BY doc_id, grp""".stripMargin),
    Gate("q104_gopher_rules", (s, dir) => {
      // Gopher rule-based quality gate (Rae et al. 2021): fixed-order
      // rules with a per-doc quarantine reason; thresholds chosen to
      // split this corpus on every rule. Zero-exchange codegen scan —
      // exact integer/single-division arithmetic, no rounding.
      tbl(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.gopherRules(col("text"),
          Seq("the", "a", "of", "to", "and"),
          minTokens = 20L, maxTokens = 90L,
          minMeanLen = 4.25, maxMeanLen = 4.75,
          minStopHits = 2L, minDistinctRatio = 0.35).as("g"))
        .select(col("doc_id"), col("g.n_tokens").as("n_tokens"),
          col("g.mean_word_len").as("mean_word_len"),
          col("g.stop_hits").as("stop_hits"),
          col("g.distinct_ratio").as("distinct_ratio"),
          col("g.reason").as("reason"),
          (col("g.reason") === "pass").as("pass"))
    },
      // identical arithmetic: exact ints, two single divisions, same
      // fixed rule order for the reason label.
      s"""WITH toks AS ($toksCte),
         |m AS (SELECT doc_id,
         |    len(t)::BIGINT AS n_tokens,
         |    len(array_to_string(t, ''))::DOUBLE / greatest(len(t), 1)::DOUBLE AS mean_word_len,
         |    len(list_filter(t, x -> list_contains(['the','a','of','to','and'], x)))::BIGINT AS stop_hits,
         |    len(list_distinct(t))::DOUBLE / greatest(len(t), 1)::DOUBLE AS distinct_ratio
         |  FROM toks)
         |SELECT doc_id, n_tokens, mean_word_len, stop_hits, distinct_ratio,
         |  CASE WHEN n_tokens < 20 OR n_tokens > 90 THEN 'word_count'
         |       WHEN mean_word_len < 4.25 OR mean_word_len > 4.75 THEN 'word_length'
         |       WHEN stop_hits < 2 THEN 'stopwords'
         |       WHEN distinct_ratio < 0.35 THEN 'repetition'
         |       ELSE 'pass' END AS reason,
         |  (CASE WHEN n_tokens < 20 OR n_tokens > 90 THEN 'word_count'
         |       WHEN mean_word_len < 4.25 OR mean_word_len > 4.75 THEN 'word_length'
         |       WHEN stop_hits < 2 THEN 'stopwords'
         |       WHEN distinct_ratio < 0.35 THEN 'repetition'
         |       ELSE 'pass' END) = 'pass' AS pass
         |FROM m""".stripMargin),
    Gate("q105_ccnet_perplexity", (s, dir) => {
      // CCNet perplexity filter (Wenzek et al. 2020): docs scored by
      // log-perplexity under a hashed-bigram LM trained on the target
      // slice (%13 docs), then head/middle/tail terciles computed
      // SHARD-PARALLEL (a global ntile would funnel the corpus through
      // one ranking partition). One hash exchange for (doc,bucket)
      // counts, the 256-row LM broadcasts, integer tercile math.
      val docs = tbl(s, dir, "documents")
      Importance.ccnetPerplexity(
        docs.where(pmod(col("doc_id"), lit(13L)) =!= 0),
        docs.where(pmod(col("doc_id"), lit(13L)) === 0),
        "doc_id", "text")
    },
      // same hashed-bigram target LM (md5 buckets, Laplace smoothing
      // over a 0..255 spine), identical round(·,4) on the per-doc nll
      // sum (rule 9) so the log_ppl division sees identical operands —
      // and NO round after the division (its exact decimal half-ties,
      // e.g. 215.7653/40, break round-half parity; the raw quotient is
      // bit-identical by IEEE). md5 shard deal, explicit integer
      // tercile arithmetic (no ntile remainder conventions to match).
      s"""WITH toks AS ($toksCte),
         |big AS (SELECT doc_id, unnest(list_transform(
         |    generate_series(1, len(t) - 1), i -> t[i] || ' ' || t[i+1])) AS s
         |  FROM toks),
         |b AS (SELECT doc_id,
         |    ('0x' || substr(md5(s || ':ccnet'), 1, 8))::BIGINT % 256 AS bucket
         |  FROM big),
         |tgt AS (SELECT bucket, count(*) AS tc FROM b
         |  WHERE doc_id % 13 = 0 GROUP BY bucket),
         |tots AS (SELECT (SELECT coalesce(sum(tc), 0) FROM tgt)::DOUBLE AS ttot),
         |spine AS (SELECT unnest(generate_series(0, 255))::BIGINT AS bucket),
         |lm AS (SELECT spine.bucket,
         |    ln((coalesce(tc, 0) + 1.0) / (ttot + 256.0)) AS lnp
         |  FROM spine LEFT JOIN tgt USING (bucket), tots),
         |rawc AS (SELECT doc_id, bucket, count(*) AS cnt FROM b
         |  WHERE doc_id % 13 <> 0 GROUP BY doc_id, bucket),
         |pd AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_feats,
         |    round(-sum(cnt * lnp), 4) AS nll
         |  FROM rawc JOIN lm USING (bucket) GROUP BY doc_id),
         |p2 AS (SELECT doc_id, n_feats, nll, nll / n_feats AS log_ppl
         |  FROM pd),
         |sh AS (SELECT doc_id, n_feats, nll, log_ppl,
         |    ('0x' || substr(md5(doc_id::VARCHAR || ':ccnet:shard'), 1, 8))::BIGINT % 32 AS shard
         |  FROM p2),
         |rk AS (SELECT doc_id, n_feats, nll, log_ppl, shard,
         |    CAST(row_number() OVER (
         |      PARTITION BY shard ORDER BY log_ppl, doc_id) AS BIGINT) AS shard_rank,
         |    CAST(count(*) OVER (PARTITION BY shard) AS BIGINT) AS shard_n
         |  FROM sh)
         |SELECT doc_id, n_feats, nll, log_ppl, shard, shard_rank, shard_n,
         |  CAST((shard_rank - 1) * 3 // shard_n + 1 AS BIGINT) AS tercile,
         |  CASE (shard_rank - 1) * 3 // shard_n + 1
         |    WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS band
         |FROM rk""".stripMargin),
    Gate("q112_winnow_fingerprints", (s, dir) => {
      // WINNOWING (Schleimer, Wilkerson & Aiken, SIGMOD 2003): the
      // full local fingerprinting algorithm behind MOSS — every
      // window of 4 consecutive 3-gram hashes contributes its minimum
      // (rightmost on ties, the paper's robust-winnowing rule, via a
      // (hash, -pos) struct min), and the distinct selections are the
      // doc's fingerprint set (density 2/(w+1)) with positions — the
      // guarantee q42's single global min cannot give: any shared
      // substring ≥ w+k-1 tokens shares a fingerprint. One posexplode
      // lineage, one window exchange, distinct on the same keys.
      Dedup.winnowFingerprints(tbl(s, dir, "documents"),
        "doc_id", "text", k = 3, w = 4)
    },
      // same positional 3-grams, the same (hash, -pos) struct min
      // over a 4-wide ROWS frame (struct comparison is lexicographic
      // on both engines), same incomplete-window drop and distinct.
      s"""WITH toks AS ($toksCte),
         |sh AS (SELECT doc_id, unnest(list_transform(
         |    generate_series(1, len(t) - 2),
         |    i -> struct_pack(pos := i - 1,
         |      s := t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS e
         |  FROM toks),
         |p AS (SELECT doc_id, CAST(e.pos AS BIGINT) AS pos, md5(e.s) AS h
         |  FROM sh),
         |m AS (SELECT doc_id, pos,
         |    min(struct_pack(h := h, np := -pos)) OVER (
         |      PARTITION BY doc_id ORDER BY pos
         |      ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS sel
         |  FROM p)
         |SELECT DISTINCT doc_id, -(sel.np) AS fp_pos, sel.h AS fp
         |FROM m WHERE pos >= 3""".stripMargin),
    Gate("q118_pq_ann", (s, dir) => {
      // Product-quantization ADC ANN: 8 subspaces x 16 codes over
      // dim=64 — candidates scanned as 8-code rows, never as raw
      // vectors. iters=0 keeps the codebooks a pure function of the
      // first 16 vectors (the q40 trick), so the DuckDB oracle
      // re-derives codes, distance tables and the j-ordered ADC folds
      // bit-exactly; the trained path (iters>0) is spec-covered.
      val emb = tbl(s, dir, "embeddings")
      Similarity.pqTopK(emb.where(col("vec_id") < 10), emb,
        "vec_id", "embedding", k = 5, m = 8, ksub = 16, iters = 0)
    },
      // PQ/ADC with the iters=0 codebooks (= subspace slices of the
      // first 16 vectors): codes by argmin(||c||^2 - 2 v_j.c) with ties
      // to the lowest code, ADC = j-ordered left fold of the per-query
      // distance table — identical double folds on both engines
      """WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |js AS (SELECT j FROM generate_series(0, 7) t(j)),
        |cb AS (SELECT vec_id, v FROM (SELECT vec_id, v,
        |    row_number() OVER (ORDER BY vec_id) AS rn FROM base) WHERE rn <= 16),
        |cells AS (SELECT cb.vec_id AS code, js.j,
        |    list_slice(cb.v, js.j*8+1, js.j*8+8) AS cv
        |  FROM cb CROSS JOIN js),
        |cells2 AS (SELECT code, j, cv, list_dot_product(cv, cv) AS c2 FROM cells),
        |enc AS (SELECT b.vec_id, c.j, c.code,
        |    c.c2 - 2*list_dot_product(list_slice(b.v, c.j*8+1, c.j*8+8), c.cv) AS d
        |  FROM base b CROSS JOIN cells2 c),
        |codes AS (SELECT vec_id, j, code FROM (
        |  SELECT vec_id, j, code, row_number() OVER (
        |    PARTITION BY vec_id, j ORDER BY d, code) AS rn FROM enc)
        |  WHERE rn = 1),
        |qd AS (SELECT b.vec_id AS query_id, c.j, c.code,
        |    c.c2 - 2*list_dot_product(list_slice(b.v, c.j*8+1, c.j*8+8), c.cv) AS qdist
        |  FROM base b CROSS JOIN cells2 c WHERE b.vec_id < 10),
        |terms AS (SELECT qd.query_id, co.vec_id AS cand_id, qd.j, qd.qdist
        |  FROM qd JOIN codes co ON qd.j = co.j AND qd.code = co.code
        |  WHERE qd.query_id <> co.vec_id),
        |adcs AS (SELECT query_id, cand_id,
        |    list_reduce(list_prepend(0.0, list(qdist ORDER BY j)),
        |      (a, x) -> a + x) AS adc
        |  FROM terms GROUP BY query_id, cand_id)
        |SELECT query_id, cand_id, adc, rank FROM (
        |  SELECT query_id, cand_id, adc, row_number() OVER (
        |    PARTITION BY query_id ORDER BY adc, cand_id) AS rank FROM adcs)
        |WHERE rank <= 5""".stripMargin),
    Gate("q119_pq_refined", (s, dir) => {
      // ADC shortlist (top 50 by codes) -> exact L2 re-rank to top-5:
      // the PQ accuracy path. Only shortlist rows ever read raw
      // vectors; the oracle replays shortlist and re-rank with the
      // same index-ordered double folds — bit-exact, no rounding.
      val emb = tbl(s, dir, "embeddings")
      Similarity.pqTopKRefined(emb.where(col("vec_id") < 10), emb,
        "vec_id", "embedding", k = 5, shortlist = 50, m = 8, ksub = 16,
        iters = 0)
    },
      // refined PQ: ADC shortlist (rank <= 50) then exact
      // ||c||^2 - 2 q.c re-rank — every fold index-ordered on both
      // engines, so no rounding anywhere
      """WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |js AS (SELECT j FROM generate_series(0, 7) t(j)),
        |cb AS (SELECT vec_id, v FROM (SELECT vec_id, v,
        |    row_number() OVER (ORDER BY vec_id) AS rn FROM base) WHERE rn <= 16),
        |cells AS (SELECT cb.vec_id AS code, js.j,
        |    list_slice(cb.v, js.j*8+1, js.j*8+8) AS cv
        |  FROM cb CROSS JOIN js),
        |cells2 AS (SELECT code, j, cv, list_dot_product(cv, cv) AS c2 FROM cells),
        |enc AS (SELECT b.vec_id, c.j, c.code,
        |    c.c2 - 2*list_dot_product(list_slice(b.v, c.j*8+1, c.j*8+8), c.cv) AS d
        |  FROM base b CROSS JOIN cells2 c),
        |codes AS (SELECT vec_id, j, code FROM (
        |  SELECT vec_id, j, code, row_number() OVER (
        |    PARTITION BY vec_id, j ORDER BY d, code) AS rn FROM enc)
        |  WHERE rn = 1),
        |qd AS (SELECT b.vec_id AS query_id, c.j, c.code,
        |    c.c2 - 2*list_dot_product(list_slice(b.v, c.j*8+1, c.j*8+8), c.cv) AS qdist
        |  FROM base b CROSS JOIN cells2 c WHERE b.vec_id < 10),
        |terms AS (SELECT qd.query_id, co.vec_id AS cand_id, qd.j, qd.qdist
        |  FROM qd JOIN codes co ON qd.j = co.j AND qd.code = co.code
        |  WHERE qd.query_id <> co.vec_id),
        |adcs AS (SELECT query_id, cand_id,
        |    list_reduce(list_prepend(0.0, list(qdist ORDER BY j)),
        |      (a, x) -> a + x) AS adc
        |  FROM terms GROUP BY query_id, cand_id),
        |short AS (SELECT query_id, cand_id FROM (
        |  SELECT query_id, cand_id, row_number() OVER (
        |    PARTITION BY query_id ORDER BY adc, cand_id) AS rn FROM adcs)
        |  WHERE rn <= 50),
        |rerank AS (SELECT s.query_id, s.cand_id,
        |    list_dot_product(cb.v, cb.v)
        |      - 2*list_dot_product(qb.v, cb.v) AS d2
        |  FROM short s
        |  JOIN base cb ON s.cand_id = cb.vec_id
        |  JOIN base qb ON s.query_id = qb.vec_id)
        |SELECT query_id, cand_id, d2, rank FROM (
        |  SELECT query_id, cand_id, d2, row_number() OVER (
        |    PARTITION BY query_id ORDER BY d2, cand_id) AS rank FROM rerank)
        |WHERE rank <= 5""".stripMargin),
    Gate("q122_cooccurrence", (s, dir) => {
      // Event-type co-occurrence (market-basket over (user, day)
      // baskets): distinct types per basket self-joined a < b — the
      // join keys are the baskets, so pair cost is Σ basket_types²,
      // never corpus². Exact counts; support = integer ratio of two
      // exact longs (single deterministic division).
      val baskets = tbl(s, dir, "events")
        .select(col("user_id"), to_date(col("ts")).as("day"),
          col("event_type"))
        .distinct()
      val a = baskets.select(col("user_id"), col("day"),
        col("event_type").as("type_a"))
      val b = baskets.select(col("user_id"), col("day"),
        col("event_type").as("type_b"))
      val nb = baskets.select("user_id", "day").distinct()
        .agg(count(lit(1)).as("n_total")) // 1-row broadcast, q67 trick
      a.join(b, Seq("user_id", "day"))
        .where(col("type_a") < col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(count(lit(1)).as("n_baskets"))
        .crossJoin(broadcast(nb))
        .select(col("type_a"), col("type_b"), col("n_baskets"),
          (col("n_baskets") / col("n_total")).as("support"))
    },
      // market-basket co-occurrence over (user, day) baskets — exact
      // counts; support = one BIGINT/BIGINT division on both engines
      """WITH baskets AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day,
        |    event_type FROM events),
        |tot AS (SELECT count(*) AS n_total FROM
        |  (SELECT DISTINCT user_id, day FROM baskets)),
        |pairs AS (SELECT a.event_type AS type_a, b.event_type AS type_b
        |  FROM baskets a JOIN baskets b USING (user_id, day)
        |  WHERE a.event_type < b.event_type)
        |SELECT type_a, type_b, count(*) AS n_baskets,
        |  count(*) / (SELECT n_total FROM tot) AS support
        |FROM pairs GROUP BY type_a, type_b""".stripMargin),
    Gate("q123_bpe_train", (s, dir) => {
      // BPE tokenizer training over the documents corpus: 60 merge
      // rules learned from the word histogram (the ONE corpus-sized
      // shuffle; the k-merge fold then runs driver-side over the
      // Heaps'-bounded histogram — zero per-merge jobs, wall flat in
      // k). DuckDB replays training exactly: same histogram, same
      // greedy left-to-right fold, same (cnt desc, l, r) argmax.
      Bpe.trainMerges(tbl(s, dir, "documents"), "text", k = 60)
    },
      bpeSql(60)),
    Gate("q124_bpe_encode", (s, dir) => {
      // the trained tokenizer APPLIED: 60 learned merges rewrite the
      // word histogram via the broadcast-ranks lowest-rank-first
      // encode loop, and the final (token, cnt) table is the corpus
      // token histogram — exact counts, the oracle replays training
      // AND encoding from the same generated SQL
      Bpe.encodeHistogram(tbl(s, dir, "documents"), "text", k = 60)
    },
      bpeEncodeSql(60)),
    Gate("q128_bigram_lm", (s, dir) => {
      // count-based bigram LM with add-1 smoothing: p(w2|w1) =
      // (c2 + 1) / (c1 + V) — every term an exact integer, ONE
      // deterministic division per row (rule 9's exact variant).
      // The q123 word-order trick: per-doc token arrays, adjacent
      // pairs via one projected transform.
      val toks = tbl(s, dir, "documents")
        .select(split(lower(col("text")), "[^a-z]+").as("ws"))
        .select(filter(col("ws"), w => length(w) > 0).as("ws"))
        .where(size(col("ws")) >= 2)
      val pairs = toks
        .select(explode(expr(
          "transform(sequence(0, size(ws) - 2), " +
            "j -> struct(ws[j] AS w1, ws[j + 1] AS w2))")).as("p"))
        .groupBy(col("p.w1").as("w1"), col("p.w2").as("w2"))
        .agg(count(lit(1)).as("c2"))
      val uni = pairs.groupBy("w1").agg(sum("c2").as("c1"))
      val vocab = tbl(s, dir, "documents")
        .select(explode(split(lower(col("text")), "[^a-z]+")).as("w"))
        .where(length(col("w")) > 0)
        .agg(count_distinct(col("w")).as("v"))
      pairs.join(uni, "w1").crossJoin(broadcast(vocab))
        .select(col("w1"), col("w2"), col("c2"),
          ((col("c2") + lit(1)) / (col("c1") + col("v"))).as("p_smooth"))
    },
      // add-1-smoothed bigram LM: every term an exact integer, one
      // BIGINT/BIGINT division per row
      """WITH toks AS (SELECT list_filter(
        |    string_split_regex(lower(text), '[^a-z]+'),
        |    w -> length(w) > 0) AS ws FROM documents),
        |pairs AS (SELECT pr[1] AS w1, pr[2] AS w2,
        |    CAST(count(*) AS BIGINT) AS c2
        |  FROM (SELECT unnest(list_transform(
        |      generate_series(1, len(ws) - 1), j -> [ws[j], ws[j + 1]])) AS pr
        |    FROM toks WHERE len(ws) >= 2) t
        |  GROUP BY 1, 2),
        |uni AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1
        |  FROM pairs GROUP BY w1),
        |vocab AS (SELECT count(DISTINCT w) AS v FROM (
        |  SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
        |  FROM documents) t WHERE length(w) > 0)
        |SELECT p.w1, p.w2, p.c2,
        |  (p.c2 + 1) / (u.c1 + (SELECT v FROM vocab)) AS p_smooth
        |FROM pairs p JOIN uni u USING (w1)""".stripMargin),
    Gate("q139_quality_model", (s, dir) => {
      // BROADCAST-MODEL INFERENCE: a linear quality classifier scored
      // as one zero-shuffle codegen projection — weights are plan
      // literals, features exact arithmetic, the logit a fixed-order
      // double chain (publish the logit, never the sigmoid — exp is
      // libm-sensitive). The same weights live in the oracle SQL.
      Scoring.linearQualityScore(tbl(s, dir, "documents"),
        "doc_id", "text", Array(-3.75, 2.0, 2.0, 8.0, 0.25))
    },
      // the identical fixed-order logit chain over exact features; the
      // stopword literal mirrors Scoring.stopwords
      s"""WITH t AS (SELECT doc_id, text,
         |    list_filter(string_split(lower(text), ' '), x -> x <> '') AS t
         |  FROM documents),
         |f AS (SELECT doc_id,
         |    -3.75::DOUBLE
         |      + 2.0::DOUBLE * (CAST(len(t) AS DOUBLE) / 100.0)
         |      + 2.0::DOUBLE * (CAST(len(list_distinct(t)) AS DOUBLE)
         |          / CAST(greatest(len(t), 1) AS DOUBLE))
         |      + 8.0::DOUBLE * (CAST(len(list_filter(t,
         |            x -> list_contains(['the','a','and','of','to','in'], x)))
         |          AS DOUBLE) / CAST(greatest(len(t), 1) AS DOUBLE))
         |      + 0.25::DOUBLE * (CAST(length(replace(text, ' ', '')) AS DOUBLE)
         |          / CAST(greatest(len(t), 1) AS DOUBLE)) AS logit
         |  FROM t)
         |SELECT doc_id, logit, logit > 0.0 AS keep FROM f""".stripMargin),
    Gate("q145_wordpiece", (s, dir) => {
      // WordPiece greedy longest-match tokenizer (the BERT encode
      // loop) with a frequency-built vocab: top-160 substrings per
      // position class (word-initial vs ##-continuation) + all single
      // chars for coverage, then per-word longest-match segmentation
      // over the Heaps'-bounded word histogram. Counts are exact
      // longs and the longest match at a position is unique, so
      // DuckDB re-trains the vocab AND re-encodes the corpus
      // verbatim (recursive CTE, one row per emitted piece).
      WordPiece.encodeHistogram(tbl(s, dir, "documents"), "text")
    },
      // WordPiece: DuckDB re-trains the frequency vocab (substring
      // explode via generate_series over the word histogram) and
      // re-encodes with the same greedy longest-match as a recursive
      // CTE. vlists MATERIALIZED: the recursive term would otherwise
      // re-run the whole vocab pipeline every iteration (rule-11 class)
      """WITH RECURSIVE words AS MATERIALIZED (
        |  SELECT w, count(*) AS freq FROM (
        |    SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
        |    FROM documents) WHERE len(w) > 0 GROUP BY w),
        |subs AS (
        |  SELECT substr(w, pos, l) AS p,
        |    CASE WHEN pos = 1 THEN 'init' ELSE 'cont' END AS kind,
        |    sum(freq) AS cnt
        |  FROM words
        |  CROSS JOIN generate_series(1, 5) ls(l)
        |  -- position grid bound derived from the histogram itself (a
        |  -- fixed literal would silently drop pieces of any word
        |  -- longer than it on a future testdata round)
        |  CROSS JOIN (SELECT unnest(generate_series(1,
        |    (SELECT max(len(w)) FROM words))) AS pos) ps
        |  WHERE len(w) >= l AND pos <= len(w) - l + 1
        |  GROUP BY 1, 2),
        |ranked AS (
        |  SELECT p, kind,
        |    row_number() OVER (PARTITION BY kind ORDER BY cnt DESC, p) AS rk
        |  FROM subs),
        |vlists AS MATERIALIZED (
        |  SELECT list(p) FILTER (WHERE kind = 'init') AS iv,
        |    list(p) FILTER (WHERE kind = 'cont') AS cv
        |  FROM ranked WHERE rk <= 160 OR len(p) = 1),
        |enc AS (
        |  SELECT w, freq, 1 AS pos, CAST(NULL AS VARCHAR) AS token FROM words
        |  UNION ALL
        |  SELECT w, freq, pos + len(best),
        |    CASE WHEN pos = 1 THEN best ELSE '##' || best END AS token
        |  FROM (
        |    SELECT e.w, e.freq, e.pos,
        |      list_reduce(
        |        list_filter(CASE WHEN e.pos = 1 THEN v.iv ELSE v.cv END,
        |          x -> x = substr(e.w, e.pos, len(x))),
        |        (a, x) -> CASE WHEN len(x) > len(a) THEN x ELSE a END) AS best
        |    FROM enc e CROSS JOIN vlists v
        |    WHERE e.pos <= len(e.w)))
        |SELECT token, CAST(sum(freq) AS BIGINT) AS cnt
        |FROM enc WHERE token IS NOT NULL GROUP BY token""".stripMargin),
    Gate("q148_text_clean", (s, dir) => {
      // Text-cleaning scrub — the pre-tokenization pass every corpus
      // pipeline runs before dedup/quality/tokenize: casefold, mask
      // emails and URLs, strip non-printable-ASCII, collapse
      // whitespace runs, trim. Pure deterministic regex rewrites
      // (DuckDB needs the 'g' flag for the same replace-all, hard
      // rule 8); the synthetic corpus exercises mainly the casefold/
      // whitespace rules, the masks are the production surface.
      val cleaned = regexp_replace(regexp_replace(regexp_replace(
        regexp_replace(lower(col("text")),
          "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}", "<email>"),
        "https?://[^ ]+", "<url>"),
        "[^ -~]", ""),
        "  +", " ")
      tbl(s, dir, "documents")
        .select(col("doc_id"), trim(cleaned).as("clean_text"))
        .withColumn("clean_len", length(col("clean_text")).cast("long"))
    },
      """SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |    lower(text),
        |    '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<email>', 'g'),
        |    'https?://[^ ]+', '<url>', 'g'),
        |    '[^ -~]', '', 'g'),
        |    '  +', ' ', 'g')) AS clean_text,
        |  len(trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |    lower(text),
        |    '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<email>', 'g'),
        |    'https?://[^ ]+', '<url>', 'g'),
        |    '[^ -~]', '', 'g'),
        |    '  +', ' ', 'g'))) AS clean_len
        |FROM documents""".stripMargin),
    Gate("q150_fuzzy_linkage", (s, dir) => {
      // RECORD-LINKAGE fuzzy key join: near-identical short keys (the
      // doc's first 24 chars) matched by blocked Levenshtein —
      // (language, length-band) blocking prunes candidates (an edit
      // distance <= k forces |len(a) - len(b)| <= k, so the longer
      // side explodes only k+1 candidate lengths), exact
      // levenshtein() verifies. Each unordered pair is enumerated
      // once: unequal lengths via the longer side's explode, ties by
      // id order. The dim side BROADCASTS, so the join inherits the
      // probe side's partitioning — and a small parquet is ONE input
      // split, which would run every Levenshtein in a single task
      // (measured: 14.7 s single-task vs ~2 s spread). The explicit
      // probe-side repartition spreads the verify across the cluster;
      // at corpus scale the probe side has many native splits and the
      // repartition is a no-op to keep. Tighter screens (q-gram
      // prefix filtering, LSH) stack in front exactly like the
      // jaccard/simhash families.
      val k = 3
      val docs = tbl(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          substring(col("text"), 1, 24).as("key"))
        .withColumn("klen", length(col("key")))
      val probes = docs.withColumn("blen",
          explode(sequence(col("klen") - k, col("klen"))))
        .repartition(s.conf.get("spark.sql.shuffle.partitions").toInt)
      probes.join(
          docs.select(col("doc_id").as("idb"), col("lang"),
            col("key").as("kb"), col("klen").as("blen")),
          Seq("lang", "blen"))
        .where(col("klen") > col("blen") || col("doc_id") < col("idb"))
        .where(levenshtein(col("key"), col("kb")) <= k)
        .select(least(col("doc_id"), col("idb")).as("doc_a"),
          greatest(col("doc_id"), col("idb")).as("doc_b"),
          levenshtein(col("key"), col("kb")).cast("long").as("dist"))
    },
      """WITH d AS (SELECT doc_id, lang, substr(text, 1, 24) AS key,
        |    len(substr(text, 1, 24)) AS klen FROM documents)
        |SELECT least(a.doc_id, b.doc_id) AS doc_a,
        |  greatest(a.doc_id, b.doc_id) AS doc_b,
        |  CAST(levenshtein(a.key, b.key) AS BIGINT) AS dist
        |FROM d a JOIN d b ON a.lang = b.lang
        |  AND b.klen BETWEEN a.klen - 3 AND a.klen
        |  AND (a.klen > b.klen OR a.doc_id < b.doc_id)
        |WHERE levenshtein(a.key, b.key) <= 3""".stripMargin),
    Gate("q153_sequence_packing", (s, dir) => {
      // SEQUENCE PACKING for LLM pretraining: documents concatenate
      // in a deterministic order and split at fixed context-window
      // boundaries (L=512 tokens) — GPT-style pack-and-split. The
      // global token cumsum runs through the two-phase parallel scan
      // (q116/q117's operator: range partitioning + driver-composed
      // carries), never a single-partition window. Output per doc:
      // token count, first/last window index, straddle flag. Exact
      // integers (double cumsum of ints < 2^53, truncating division
      // of non-negatives == floor == DuckDB's //).
      val L = 512
      val toks = tbl(s, dir, "documents")
        .select(col("doc_id"),
          size(TextFunctions.tokens(col("text"))).cast("double").as("ntok"))
        .withColumn("g", lit(1))
      Scan.linearRecurrence(toks, "g", Seq(("doc_id", true)), "ntok",
          a = 1.0, b = 1.0)
        .where(col("ntok") > 0)
        .select(col("doc_id"), col("ntok").cast("long").as("n_tokens"),
          ((col("y") - col("ntok")) / L).cast("long").as("seq_start"),
          ((col("y") - 1) / L).cast("long").as("seq_end"))
        .withColumn("straddles", col("seq_end") > col("seq_start"))
    },
      s"""WITH t AS ($toksCte),
         |c AS (SELECT doc_id, len(t) AS ntok,
         |    sum(len(t)) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM t)
         |SELECT doc_id, CAST(ntok AS BIGINT) AS n_tokens,
         |  CAST((cum - ntok) // 512 AS BIGINT) AS seq_start,
         |  CAST((cum - 1) // 512 AS BIGINT) AS seq_end,
         |  (cum - 1) // 512 > (cum - ntok) // 512 AS straddles
         |FROM c WHERE ntok > 0""".stripMargin),
    Gate("q154_chunking", (s, dir) => {
      // RAG CHUNKER: sliding token windows (size 64, stride 48 — 16
      // overlap) per document, re-joined to text — the indexing-side
      // twin of the retrieval family (q100/q107 consume such chunks).
      // One explode per chunk start; slice clamps at the tail on both
      // engines. Deterministic strings and exact integers.
      val size64 = 64; val stride = 48
      tbl(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.tokens(col("text")).as("tk"))
        .withColumn("n", size(col("tk")))
        .where(col("n") > 0)
        .select(col("doc_id"), col("tk"), col("n"),
          explode(sequence(lit(0), col("n") - 1, lit(stride))).as("start"))
        .select(col("doc_id"),
          (col("start") / stride).cast("long").as("chunk_idx"),
          slice(col("tk"), col("start") + 1, lit(size64)).as("chunk"))
        .select(col("doc_id"), col("chunk_idx"),
          size(col("chunk")).cast("long").as("n_chunk_tokens"),
          array_join(col("chunk"), " ").as("chunk_text"))
    },
      s"""WITH tt AS ($toksCte),
         |s AS (SELECT doc_id, t AS tk, len(t) AS n FROM tt WHERE len(t) > 0)
         |-- v1.0 generate_series can't correlate on n (no lateral
         |-- column parameters): one shared grid sized from the CORPUS
         |-- max doc length (not a literal — a longer doc on a future
         |-- testdata round would silently lose chunks), WHERE-bounded
         |-- per doc (same trick as q145's position grid)
         |SELECT doc_id, CAST(st // 48 AS BIGINT) AS chunk_idx,
         |  CAST(len(tk[st + 1 : least(st + 64, n)]) AS BIGINT) AS n_chunk_tokens,
         |  array_to_string(tk[st + 1 : least(st + 64, n)], ' ') AS chunk_text
         |FROM s CROSS JOIN (SELECT unnest(generate_series(0,
         |  (SELECT ((max(n) - 1) // 48) * 48 FROM s), 48)) AS st) g
         |WHERE st <= n - 1""".stripMargin),
    Gate("q159_unigram_train", (s, dir) => {
      // Unigram-LM (SentencePiece-family) tokenizer TRAINING under
      // the oracle — the Llama/T5-class tokenizer completing the
      // BPE (q123) / WordPiece (q145) family. Hard-EM over the
      // Heaps'-bounded word histogram: substring seeding, 3 Viterbi-
      // EM iterations, frequency prune — all exact-long counts; the
      // only doubles are the per-iteration log-probs, rounded 7dp
      // (rule 9), so DuckDB re-trains bit-for-bit: the EM chain is a
      // generated materialized-CTE pipeline (q123's k-block trick)
      // whose per-position DP blocks replay the identical Viterbi.
      UnigramLm.trainVocab(tbl(s, dir, "documents"), "text")
    },
      unigramSql(encode = false)),
    Gate("q160_unigram_encode", (s, dir) => {
      // The encode half: per histogram word, the max-likelihood
      // Viterbi segmentation under the pruned vocab — (w, freq,
      // pieces, n_pieces). DuckDB re-trains AND re-encodes via one
      // more generated DP pass under the final log-prob table.
      UnigramLm.encodeHistogram(tbl(s, dir, "documents"), "text")
    },
      unigramSql(encode = true)),
    Gate("q164_ivfpq_ann", (s, dir) => {
      // IVF-PQ / IVFADC (q40's coarse cells + q118's PQ codes,
      // combined the Jégou-2011 way): vectors are stored as 8
      // RESIDUAL codes in their coarse cell; a query probes its 2
      // nearest cells with a per-cell residual distance table and
      // scans only those cells' codes. Residuals make ADC scores
      // comparable across probed cells (‖q−v‖ = ‖(q−c)−(v−c)‖) and
      // are one float rounding of exact double subtractions —
      // replayed verbatim by the oracle, which re-derives the entire
      // index (coarse centroids AND residual codebooks) from the
      // table itself via the iters=0 zero-literal trick.
      val emb = tbl(s, dir, "embeddings")
      Similarity.ivfPqTopK(emb.where(col("vec_id") < 10), emb,
        "vec_id", "embedding", k = 5, nCentroids = 16, nProbe = 2,
        m = 8, ksub = 16)
    },
      // IVFADC: coarse assignment (q40's rule), float-rounded residuals,
      // residual codebooks from the first-16 residuals, per-probed-cell
      // distance tables, j-ordered ADC folds — all re-derived from the
      // table, bit-exact (multi-referenced CTEs materialized, rule 11)
      """WITH base AS MATERIALIZED (
        |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |cents AS MATERIALIZED (
        |  SELECT rn - 1 AS cell, v AS cv, list_dot_product(v, v) AS c2
        |  FROM (SELECT vec_id, v, row_number() OVER (ORDER BY vec_id) AS rn
        |    FROM base) WHERE rn <= 16),
        |dist AS MATERIALIZED (SELECT b.vec_id, c.cell,
        |    c.c2 - 2 * list_dot_product(b.v, c.cv) AS d
        |  FROM base b CROSS JOIN cents c),
        |assign AS (SELECT vec_id, cell FROM (
        |  SELECT vec_id, cell, row_number() OVER (
        |    PARTITION BY vec_id ORDER BY d, cell) AS rn FROM dist)
        |  WHERE rn = 1),
        |probes AS (SELECT vec_id, cell FROM (
        |  SELECT vec_id, cell, row_number() OVER (
        |    PARTITION BY vec_id ORDER BY d, cell) AS rn FROM dist
        |  WHERE vec_id < 10) WHERE rn <= 2),
        |resid AS MATERIALIZED (SELECT b.vec_id, a.cell,
        |    list_transform(generate_series(1, 64),
        |      i -> CAST(CAST(b.v[i] - c.cv[i] AS FLOAT) AS DOUBLE)) AS rv
        |  FROM base b JOIN assign a USING (vec_id) JOIN cents c USING (cell)),
        |qresid AS (SELECT b.vec_id AS query_id, p.cell,
        |    list_transform(generate_series(1, 64),
        |      i -> CAST(CAST(b.v[i] - c.cv[i] AS FLOAT) AS DOUBLE)) AS rv
        |  FROM base b JOIN probes p ON b.vec_id = p.vec_id
        |  JOIN cents c ON p.cell = c.cell),
        |js AS (SELECT j FROM generate_series(0, 7) t(j)),
        |cbsub AS MATERIALIZED (
        |  SELECT code, j, scv, list_dot_product(scv, scv) AS sc2 FROM (
        |    SELECT rn - 1 AS code, js.j,
        |      list_slice(rv, js.j*8+1, js.j*8+8) AS scv
        |    FROM (SELECT rv, row_number() OVER (ORDER BY vec_id) AS rn
        |      FROM resid) r CROSS JOIN js WHERE rn <= 16)),
        |enc AS (SELECT r.vec_id, r.cell, c.j, c.code,
        |    c.sc2 - 2*list_dot_product(
        |      list_slice(r.rv, c.j*8+1, c.j*8+8), c.scv) AS d
        |  FROM resid r CROSS JOIN cbsub c),
        |codes AS (SELECT vec_id, cell, j, code FROM (
        |  SELECT vec_id, cell, j, code, row_number() OVER (
        |    PARTITION BY vec_id, j ORDER BY d, code) AS rn FROM enc)
        |  WHERE rn = 1),
        |qd AS (SELECT q.query_id, q.cell, c.j, c.code,
        |    c.sc2 - 2*list_dot_product(
        |      list_slice(q.rv, c.j*8+1, c.j*8+8), c.scv) AS qdist
        |  FROM qresid q CROSS JOIN cbsub c),
        |terms AS (SELECT qd.query_id, co.vec_id AS cand_id, qd.j, qd.qdist
        |  FROM qd JOIN codes co ON qd.cell = co.cell AND qd.j = co.j
        |    AND qd.code = co.code
        |  WHERE qd.query_id <> co.vec_id),
        |adcs AS (SELECT query_id, cand_id,
        |    list_reduce(list_prepend(0.0, list(qdist ORDER BY j)),
        |      (a, x) -> a + x) AS adc
        |  FROM terms GROUP BY query_id, cand_id)
        |SELECT query_id, cand_id, adc, rank FROM (
        |  SELECT query_id, cand_id, adc, row_number() OVER (
        |    PARTITION BY query_id ORDER BY adc, cand_id) AS rank FROM adcs)
        |WHERE rank <= 5""".stripMargin),
    Gate("q168_stratified_sample", (s, dir) => {
      // DETERMINISTIC STRATIFIED SAMPLING for corpus curation, both
      // mixes in one gate: 'prop' draws EXACTLY 200 docs apportioned
      // across languages by largest-remainder (floor quotas + one
      // leftover each to the largest remainders, ties by language),
      // 'bal' draws min(25, n) per language. Selection within a
      // stratum is the md5-deal prefix (hash-rank by (md5(id), id))
      // — no RNG anywhere, the drawn set is a pure function of the
      // table, and the oracle replays allocation and draw with
      // integer arithmetic only.
      val docs = tbl(s, dir, "documents")
      val prop = Sampling.stratified(docs, "lang", "doc_id", 200L)
        .withColumn("sel", lit("prop"))
      val bal = Sampling.balanced(docs, "lang", "doc_id", 25L)
        .withColumn("sel", lit("bal"))
      prop.unionByName(bal)
        .select(col("id").as("doc_id"), col("stratum").as("lang"),
          col("sel"))
    },
      // largest-remainder allocation + md5-deal prefix draw, all
      // integer arithmetic (HUGEINT-safe: only comparisons and
      // divisions, nothing emitted)
      stratifiedSampleSql),
    Gate("q170_sq8_ann", (s, dir) => {
      // SQ8 scalar-quantization ANN (completing the quantizer family
      // LSH/IVF/PQ/IVF-PQ): one byte per DIMENSION against per-dim
      // corpus min/max, queries scored on the dequantized floats.
      // Everything — min/max, scales, codes, dequantized values, the
      // index-ordered dot folds — is exact or single-rounded IEEE
      // arithmetic, so the oracle re-derives the whole index from the
      // table with no rounding contract.
      val emb = tbl(s, dir, "embeddings")
      Similarity.sq8TopK(emb.where(col("vec_id") < 10), emb,
        "vec_id", "embedding", k = 5)
    },
      // SQ8: per-dim min/max → scale chain → clamped floor codes →
      // float-rounded dequantize → index-ordered dot folds, all
      // re-derived from the table (255.0 carries ::DOUBLE — rule 11)
      """WITH base AS MATERIALIZED (
        |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |dims AS (SELECT i FROM generate_series(1, 64) t(i)),
        |mm AS (SELECT i, min(v[i]) AS mn, max(v[i]) AS mx
        |  FROM base CROSS JOIN dims GROUP BY i),
        |sc AS MATERIALIZED (SELECT i, mn,
        |    CASE WHEN mx > mn THEN (mx - mn) / 255.0::DOUBLE
        |         ELSE 0.0::DOUBLE END AS s
        |  FROM mm),
        |codes AS (SELECT b.vec_id, sc.i,
        |    CASE WHEN sc.s > 0 THEN least(255, greatest(0,
        |        CAST(floor((b.v[sc.i] - sc.mn) / sc.s) AS INT)))
        |      ELSE 0 END AS c
        |  FROM base b CROSS JOIN sc),
        |vhat AS MATERIALIZED (SELECT vec_id,
        |    list(CAST(CAST(sc.mn + c * sc.s AS FLOAT) AS DOUBLE)
        |      ORDER BY codes.i) AS vh
        |  FROM codes JOIN sc USING (i) GROUP BY vec_id),
        |scored AS (SELECT q.vec_id AS query_id, h.vec_id AS cand_id,
        |    list_dot_product(q.v, h.vh) AS score
        |  FROM base q JOIN vhat h ON q.vec_id <> h.vec_id
        |  WHERE q.vec_id < 10)
        |SELECT query_id, cand_id, score, rank FROM (
        |  SELECT query_id, cand_id, score, row_number() OVER (
        |    PARTITION BY query_id ORDER BY score DESC, cand_id) AS rank
        |  FROM scored) WHERE rank <= 5""".stripMargin),
    Gate("q178_temperature_mix", (s, dir) => {
      // TEMPERATURE-SCALED DOMAIN MIX (α = 0.5, the sqrt-rebalance
      // recipe for upweighting small domains in a training mixture):
      // 200 docs apportioned by largest remainder over integer-
      // quantized √n weights, drawn by the same md5-deal prefix as
      // q168 — small languages get a larger share than their
      // proportional quota, large ones shrink, and the whole draw
      // stays a pure function of the table (exact integer
      // apportionment; √ is IEEE-exact on both engines).
      val docs = tbl(s, dir, "documents")
      Sampling.temperatureMix(docs, "lang", "doc_id", 200L, alpha = 0.5)
        .select(col("id").as("doc_id"), col("stratum").as("lang"))
    },
      // √n weights quantized to integers (×1000) → exact largest-
      // remainder apportionment; same md5-deal draw as q168
      """WITH d AS MATERIALIZED (SELECT doc_id AS id, lang AS stratum,
        |    md5(doc_id::VARCHAR) AS h FROM documents),
        |rk AS (SELECT id, stratum, row_number() OVER (
        |    PARTITION BY stratum ORDER BY h, id) AS rn FROM d),
        |cnt AS (SELECT stratum, count(*)::BIGINT AS n FROM d
        |  GROUP BY stratum),
        |wt AS (SELECT stratum,
        |    CAST(floor(sqrt(n::DOUBLE) * 1000.0::DOUBLE) AS BIGINT) AS w
        |  FROM cnt),
        |quo AS MATERIALIZED (SELECT stratum,
        |    (200 * w) // sum(w) OVER () AS fl,
        |    (200 * w) % sum(w) OVER () AS rem FROM wt),
        |alloc AS (SELECT stratum,
        |    fl + CASE WHEN row_number() OVER (ORDER BY rem DESC, stratum)
        |      <= 200 - sum(fl) OVER () THEN 1 ELSE 0 END AS quota
        |  FROM quo)
        |SELECT r.id AS doc_id, r.stratum AS lang FROM rk r
        |JOIN alloc a USING (stratum) WHERE r.rn <= a.quota""".stripMargin),
    Gate("q184_ivfpq_refined", (s, dir) => {
      // IVFADC+R (q164 + the q119 exact refinement INSIDE the probed
      // cells — the configuration you'd actually ship): residual-ADC
      // shortlists 50 candidates per query from 4 probed cells' codes
      // alone, then only those 50 rows join back to raw vectors for
      // an exact L2 re-rank to top-5. Recall recovers from pure ADC's
      // honest 0.06 floor to >= 0.8 at nProbe=8 (IvfPqSpec); the
      // oracle re-derives the whole index (iters=0 zero-literal
      // trick) and replays shortlist + re-rank bit-exactly.
      val emb = tbl(s, dir, "embeddings")
      Similarity.ivfPqTopKRefined(emb.where(col("vec_id") < 10), emb,
        "vec_id", "embedding", k = 5, shortlist = 50, nCentroids = 16,
        nProbe = 4, m = 8, ksub = 16)
    },
      // q164's full index chain + ADC shortlist (rn <= 50 over 4 probed
      // cells) + the q119 exact re-rank block — d2 is the same
      // index-ordered double fold on both engines, no rounding needed
      """WITH base AS MATERIALIZED (
        |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |cents AS MATERIALIZED (
        |  SELECT rn - 1 AS cell, v AS cv, list_dot_product(v, v) AS c2
        |  FROM (SELECT vec_id, v, row_number() OVER (ORDER BY vec_id) AS rn
        |    FROM base) WHERE rn <= 16),
        |dist AS MATERIALIZED (SELECT b.vec_id, c.cell,
        |    c.c2 - 2 * list_dot_product(b.v, c.cv) AS d
        |  FROM base b CROSS JOIN cents c),
        |assign AS (SELECT vec_id, cell FROM (
        |  SELECT vec_id, cell, row_number() OVER (
        |    PARTITION BY vec_id ORDER BY d, cell) AS rn FROM dist)
        |  WHERE rn = 1),
        |probes AS (SELECT vec_id, cell FROM (
        |  SELECT vec_id, cell, row_number() OVER (
        |    PARTITION BY vec_id ORDER BY d, cell) AS rn FROM dist
        |  WHERE vec_id < 10) WHERE rn <= 4),
        |resid AS MATERIALIZED (SELECT b.vec_id, a.cell,
        |    list_transform(generate_series(1, 64),
        |      i -> CAST(CAST(b.v[i] - c.cv[i] AS FLOAT) AS DOUBLE)) AS rv
        |  FROM base b JOIN assign a USING (vec_id) JOIN cents c USING (cell)),
        |qresid AS (SELECT b.vec_id AS query_id, p.cell,
        |    list_transform(generate_series(1, 64),
        |      i -> CAST(CAST(b.v[i] - c.cv[i] AS FLOAT) AS DOUBLE)) AS rv
        |  FROM base b JOIN probes p ON b.vec_id = p.vec_id
        |  JOIN cents c ON p.cell = c.cell),
        |js AS (SELECT j FROM generate_series(0, 7) t(j)),
        |cbsub AS MATERIALIZED (
        |  SELECT code, j, scv, list_dot_product(scv, scv) AS sc2 FROM (
        |    SELECT rn - 1 AS code, js.j,
        |      list_slice(rv, js.j*8+1, js.j*8+8) AS scv
        |    FROM (SELECT rv, row_number() OVER (ORDER BY vec_id) AS rn
        |      FROM resid) r CROSS JOIN js WHERE rn <= 16)),
        |enc AS (SELECT r.vec_id, r.cell, c.j, c.code,
        |    c.sc2 - 2*list_dot_product(
        |      list_slice(r.rv, c.j*8+1, c.j*8+8), c.scv) AS d
        |  FROM resid r CROSS JOIN cbsub c),
        |codes AS (SELECT vec_id, cell, j, code FROM (
        |  SELECT vec_id, cell, j, code, row_number() OVER (
        |    PARTITION BY vec_id, j ORDER BY d, code) AS rn FROM enc)
        |  WHERE rn = 1),
        |qd AS (SELECT q.query_id, q.cell, c.j, c.code,
        |    c.sc2 - 2*list_dot_product(
        |      list_slice(q.rv, c.j*8+1, c.j*8+8), c.scv) AS qdist
        |  FROM qresid q CROSS JOIN cbsub c),
        |terms AS (SELECT qd.query_id, co.vec_id AS cand_id, qd.j, qd.qdist
        |  FROM qd JOIN codes co ON qd.cell = co.cell AND qd.j = co.j
        |    AND qd.code = co.code
        |  WHERE qd.query_id <> co.vec_id),
        |adcs AS (SELECT query_id, cand_id,
        |    list_reduce(list_prepend(0.0, list(qdist ORDER BY j)),
        |      (a, x) -> a + x) AS adc
        |  FROM terms GROUP BY query_id, cand_id),
        |short AS (SELECT query_id, cand_id FROM (
        |  SELECT query_id, cand_id, row_number() OVER (
        |    PARTITION BY query_id ORDER BY adc, cand_id) AS rn FROM adcs)
        |  WHERE rn <= 50),
        |rerank AS (SELECT s.query_id, s.cand_id,
        |    list_dot_product(cb.v, cb.v)
        |      - 2*list_dot_product(qb.v, cb.v) AS d2
        |  FROM short s
        |  JOIN base cb ON s.cand_id = cb.vec_id
        |  JOIN base qb ON s.query_id = qb.vec_id)
        |SELECT query_id, cand_id, d2, rank FROM (
        |  SELECT query_id, cand_id, d2, row_number() OVER (
        |    PARTITION BY query_id ORDER BY d2, cand_id) AS rank FROM rerank)
        |WHERE rank <= 5""".stripMargin),
    Gate("q193_dedup_keep_best", (s, dir) => {
      // CANONICAL-DOC SELECTION: the curation step after near-dup
      // clustering — per q96 cluster keep the HIGHEST-QUALITY member
      // (q22's quality score; doc_id tiebreak per hard rule 4), drop
      // the rest. Clusters come from the memoized simhash pair set +
      // connected components; the keep decision is one window over
      // the (tiny) labeled frame. The oracle replays CC by recursive
      // min-reachability and re-derives the same per-doc quality.
      val docs = tbl(s, dir, "documents")
      val comp = Components.connectedComponents(
        simhashPairs(s, dir), "doc_a", "doc_b")
      val lab = docs.select(col("doc_id"))
        .join(comp, col("doc_id") === col("node"), "left")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("cluster_id"))
      val qual = docs.select(col("doc_id"),
        TextFunctions.qualityScore(col("text")).as("quality"))
      val w = Window.partitionBy("cluster_id")
        .orderBy(col("quality").desc, col("doc_id"))
      val out = lab.join(qual, "doc_id")
        .withColumn("rn", row_number().over(w))
        .withColumn("cluster_size",
          count(lit(1)).over(Window.partitionBy("cluster_id")))
        .where(col("rn") === 1)
        .select(col("cluster_id"), col("doc_id").as("kept_doc"),
          col("quality").as("kept_quality"),
          col("cluster_size").cast("long").as("cluster_size"),
          (col("cluster_size") - 1).cast("long").as("n_dropped"))
        .localCheckpoint()
      comp.unpersist() // pairs stays persisted (memo-owned)
      out
    },
      keepBestSql),
    Gate("q203_weighted_sample", (s, dir) => {
      // DETERMINISTIC WEIGHTED SAMPLING (lottery-ticket draw): each
      // doc gets w integer tickets (w = 1 + n_chars/500 — longer docs
      // upweighted), every ticket hashes md5(doc_id:ticket), and the
      // 100 docs holding the smallest best-ticket win — selection
      // probability strictly increasing in w, no RNG anywhere, fully
      // SQL-replayable (the md5-deal discipline of q168, extended to
      // per-row weights via integer ticket replication). Shape: Σw
      // exploded tickets (a bounded small multiple of the corpus),
      // map-side min per doc, then a bounded top-k — never a global
      // sort of the corpus.
      val weighted = tbl(s, dir, "documents")
        .select(col("doc_id"),
          (lit(1L) + (col("n_chars") / 500).cast("long")).as("w"))
      weighted
        .withColumn("g", explode(sequence(lit(1L), col("w"))))
        .select(col("doc_id"), col("w"),
          md5(concat(col("doc_id").cast("string"), lit(":"),
            col("g").cast("string"))).as("h"))
        .groupBy("doc_id", "w").agg(min(col("h")).as("ticket"))
        .orderBy(col("ticket"), col("doc_id")).limit(100)
    },
      // md5-deal with integer ticket replication: selection probability
      // strictly increasing in w, no RNG, unique (ticket, doc_id) order
      """WITH wt AS (SELECT doc_id, (1 + n_chars // 500)::BIGINT AS w
        |  FROM documents),
        |tk AS (SELECT doc_id, w,
        |    unnest(generate_series(1, w)) AS g FROM wt),
        |best AS (SELECT doc_id, w,
        |    min(md5(doc_id::VARCHAR || ':' || g::VARCHAR)) AS ticket
        |  FROM tk GROUP BY doc_id, w)
        |SELECT doc_id, w, ticket FROM best
        |ORDER BY ticket, doc_id LIMIT 100""".stripMargin),
    Gate("q205_perplexity", (s, dir) => {
      // CCNet-STYLE LM QUALITY SCORING: train an add-one-smoothed
      // bigram LM on the corpus itself, score every doc by average
      // negative log-likelihood (nats/bigram) — the filter that drops
      // the gibberish/boilerplate tail. Every probability is a ratio
      // of exact integer counts (smoothing makes zero-counts
      // well-defined); both engines derive V from the same bigram
      // stream; the per-doc sum of ln-terms is rounded at 6 dp
      // (rule 9). 100 TB: two Zipf-bounded count shuffles + a scoring
      // join over ONE persisted bigram pass (eager, caller-owned) —
      // corpus size stays on the streams, never in state.
      NgramLm.score(tbl(s, dir, "documents"), "doc_id", "text")
    },
      // add-one-smoothed bigram LM trained and applied on the same
      // corpus: probabilities are ratios of exact integer counts; V is
      // re-derived (count DISTINCT cur) rather than passed, so both
      // engines agree by construction; avg of ln-terms rounded (rule 9)
      """WITH toks AS (SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '), x -> x <> '') AS t
        |  FROM documents),
        |bg AS MATERIALIZED (SELECT doc_id,
        |    CASE WHEN i = 1 THEN '<S>' ELSE t[i-1] END AS prev,
        |    t[i] AS cur
        |  FROM toks, unnest(generate_series(1, len(t))) AS g(i)),
        |cp AS (SELECT prev, count(*)::BIGINT AS c_prev FROM bg GROUP BY 1),
        |cb AS (SELECT prev, cur, count(*)::BIGINT AS c_bg
        |  FROM bg GROUP BY 1, 2),
        |v AS (SELECT count(DISTINCT cur)::BIGINT AS v FROM bg)
        |SELECT bg.doc_id, count(*)::BIGINT AS n_bigrams,
        |  round(sum(ln((c_prev + v.v)::DOUBLE / (c_bg + 1)::DOUBLE))
        |    / count(*), 6) AS nll
        |FROM bg JOIN cb USING (prev, cur) JOIN cp USING (prev), v
        |GROUP BY 1""".stripMargin),
    Gate("q207_lang_jsd", (s, dir) => {
      // PAIRWISE JENSEN–SHANNON DIVERGENCE between per-language
      // unigram distributions — the symmetric, ln2-bounded slice
      // divergence used to pick mixing weights / flag vocabulary
      // drift. Singleton-vocabulary tails fold into closed form from
      // INTEGER coverage sums, so an inner self-join on word
      // suffices (see Drift.unigramJsd); float term sums rounded at
      // 6 dp (rule 9). 100 TB: the join shuffles Heaps-bounded count
      // tables, never the corpus.
      val counts = tbl(s, dir, "documents")
        .select(col("lang"),
          explode(TextFunctions.tokens(col("text"))).as("w"))
        .groupBy("lang", "w").agg(count(lit(1)).as("c"))
      Drift.unigramJsd(counts, "lang", "w", "c")
        .select(col("slice_a").as("lang_a"), col("slice_b").as("lang_b"),
          col("jsd"), col("n_a"), col("n_b"))
    },
      // per-term float math written in the IDENTICAL op sequence as the
      // Spark side (each IEEE op correctly rounded on identical integer
      // inputs); only the vocab-order sums differ → round 6 (rule 9);
      // out-of-vocab tails are closed-form from integer coverage sums
      langJsdSql),
    Gate("q208_epoch_shuffle", (s, dir) => {
      // DETERMINISTIC EPOCH SHUFFLE into fixed-size training batches:
      // order = md5(salt:epoch:id), rank via GlobalRank's CONTENT-
      // BUCKETED two-level rank (bucket = leading hex nibbles of the
      // key, so membership is a pure function of the data and the
      // corpus crosses ONE exchange — no single-partition window
      // funnel, plan-guarded in GlobalRankSpec), batch/pos by integer
      // div/mod. The oracle replays the order with one row_number.
      GlobalRank.epochShuffle(tbl(s, dir, "documents"), "doc_id",
        "ep", epoch = 1, batchSize = 64)
    },
      // one row_number replays the two-phase range rank: md5 hex is
      // ASCII so VARCHAR order == Spark's binary string order; doc_id
      // tiebreak per hard rule 4; integer div/mod
      """WITH r AS (SELECT doc_id,
        |    row_number() OVER (
        |      ORDER BY md5('ep:1:' || doc_id::VARCHAR), doc_id) AS rank
        |  FROM documents)
        |SELECT doc_id, ((rank - 1) // 64)::BIGINT AS batch,
        |  ((rank - 1) % 64)::BIGINT AS pos
        |FROM r""".stripMargin),
    Gate("q213_vocab_coverage", (s, dir) => {
      // VOCABULARY COVERAGE CURVE for tokenizer/vocab-size planning:
      // the smallest top-k word prefix (by count desc, word asc)
      // whose cumulative token coverage reaches each target percent.
      // The threshold test is EXACT integer math (100·cum ≥ pct·total
      // — no float boundary), and min(struct(k, cum)) picks the
      // frontier row deterministically. The rank window is
      // single-partition but runs over the Heaps-bounded VOCAB table
      // (the q159 stance), never the corpus; the corpus itself folds
      // through one (w)-keyed count shuffle.
      val counts = tbl(s, dir, "documents")
        .select(explode(TextFunctions.tokens(col("text"))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c"))
      val w = Window.orderBy(col("c").desc, col("w"))
      val cum = counts
        .withColumn("k", row_number().over(w).cast("long"))
        .withColumn("cum", sum(col("c")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val tot = cum.agg(sum(col("c")).as("tot"))
      import s.implicits._
      val targets = Seq(50L, 75L, 90L, 95L, 99L).toDF("target_pct")
      cum.crossJoin(broadcast(tot)).crossJoin(broadcast(targets))
        .where(lit(100L) * col("cum") >= col("target_pct") * col("tot"))
        .groupBy("target_pct")
        .agg(min(struct(col("k"), col("cum"))).as("m"),
          min(col("tot")).as("total_tokens"))
        .select(col("target_pct"), col("m.k").as("k_words"),
          col("m.cum").as("cum_tokens"), col("total_tokens"))
    },
      // 100*cum >= pct*tot is exact integer math (window sums stay
      // integral); min_by replays Spark's min(struct(k, cum)) frontier
      """WITH c AS MATERIALIZED (SELECT w, count(*)::BIGINT AS c FROM (
        |    SELECT unnest(list_filter(string_split(lower(text), ' '),
        |      x -> x <> '')) AS w FROM documents)
        |  GROUP BY 1),
        |t AS (SELECT sum(c)::BIGINT AS tot FROM c),
        |r AS (SELECT w, c, row_number() OVER (ORDER BY c DESC, w) AS k,
        |    sum(c) OVER (ORDER BY c DESC, w
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM c)
        |SELECT tp AS target_pct, min(k)::BIGINT AS k_words,
        |  min_by(cum, k)::BIGINT AS cum_tokens,
        |  min(tot)::BIGINT AS total_tokens
        |FROM r, t, (VALUES (50::BIGINT), (75), (90), (95), (99)) v(tp)
        |WHERE 100 * cum >= tp * tot
        |GROUP BY 1""".stripMargin),
    Gate("q214_containment", (s, dir) => {
      // DIRECTED SHINGLE CONTAINMENT (|A∩B|/|A| ≥ 7/10): the
      // asymmetric dedup measure that flags a short document quoted
      // wholesale inside a long one — Jaccard's union denominator
      // structurally hides that case. Rational threshold ⇒ every
      // bound is exact integer math (tDen·inter ≥ tNum·n_a); A's
      // rarest-shingle prefix probes B's full inverted list
      // (containment can't length-bound B), verification is
      // AND+popcount on dictionary-encoded int sets. k=3: trigram
      // shingles keep prefix entries GENUINELY rare (bigram vocab on
      // this corpus is ~1k with df~275 — prefix filtering needs a
      // Zipf tail to bite; measured 36× fewer candidates at k=3).
      Dedup.containmentPairs(tbl(s, dir, "documents"), "doc_id", "text",
        k = 3, tNum = 7, tDen = 10)
    },
      // directed pairs; rational threshold keeps the filter exact
      // integer math; containment is ONE division of exact ints
      s"""WITH toks AS ($toksCte),
         |sh AS (SELECT DISTINCT doc_id, unnest(list_transform(generate_series(1, len(t) - 2),
         |  i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS s FROM toks),
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    count(*) AS inter
         |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id <> b.doc_id
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b, inter::BIGINT AS inter, sa.n::BIGINT AS n_a,
         |  inter::DOUBLE / sa.n::DOUBLE AS containment
         |FROM inter JOIN sizes sa ON doc_a = sa.doc_id
         |WHERE inter * 10 >= sa.n * 7""".stripMargin),
    Gate("q218_ann_recall", (s, dir) => {
      // ANN QUALITY AUDIT under the oracle: recall@5 of the IVF route
      // against the exact cosine top-5, swept over nProbe ∈ {1,2,4,8}
      // — the measurement that decides an index's probe budget before
      // it ships (IvfPqSpec pins recall floors in tests; this makes
      // the audit a first-class catalog query). Hit counts are exact
      // ints, recall is ONE division. iters=0 keeps the quantizer a
      // pure function of the first 16 vectors (the q40 trick) so the
      // oracle replays every probe sweep exactly. At 100 TB the audit
      // runs on a query SAMPLE against the STORED assignment (q210's
      // index); recomputing here keeps the gate self-contained.
      val emb = tbl(s, dir, "embeddings")
      val qs = emb.where(col("vec_id") < 10)
      val cents: Array[Array[Float]] = emb
        .select(col("vec_id"), col("embedding"))
        .orderBy("vec_id").limit(16).collect()
        .map(_.getAs[scala.collection.Seq[Float]](1).toArray)
      val exact = Similarity.cosineTopK(qs, emb, "vec_id", "embedding",
        k = 5).select("query_id", "cand_id")
      val ivf = Seq(1, 2, 4, 8).map { np =>
        Similarity.ivfTopKWithCentroids(qs, emb, "vec_id", "embedding",
            k = 5, cents, nProbe = np)
          .select(col("query_id"), col("cand_id"))
          .withColumn("n_probe", lit(np.toLong))
      }.reduce(_.unionByName(_))
      val tot = exact.agg(count(lit(1)).as("total"))
      ivf.join(exact, Seq("query_id", "cand_id"))
        .groupBy("n_probe")
        .agg(count(lit(1)).cast("long").as("hits"))
        .crossJoin(broadcast(tot))
        .select(col("n_probe"), col("hits"),
          col("total").cast("long").as("total"),
          (col("hits").cast("double") / col("total").cast("double"))
            .as("recall"))
    },
      // the q40 probe machinery swept over nProbe; cell ids differ
      // (vec_id vs array index) but the mapping is monotone, so probe
      // sets and tiebreaks match; hits exact ints, recall ONE division
      """WITH base AS MATERIALIZED (
        |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |cells AS (SELECT vec_id AS cell, v AS cv, list_dot_product(v, v) AS c2
        |  FROM (SELECT vec_id, v, row_number() OVER (ORDER BY vec_id) AS rn
        |    FROM base) WHERE rn <= 16),
        |dist AS MATERIALIZED (SELECT b.vec_id, c.cell,
        |    c.c2 - 2 * list_dot_product(b.v, c.cv) AS d
        |  FROM base b CROSS JOIN cells c),
        |assign AS (SELECT vec_id, cell FROM (
        |  SELECT vec_id, cell, row_number() OVER (
        |    PARTITION BY vec_id ORDER BY d, cell) AS rn FROM dist)
        |  WHERE rn = 1),
        |qd AS (SELECT vec_id AS query_id, cell, row_number() OVER (
        |    PARTITION BY vec_id ORDER BY d, cell) AS rn
        |  FROM dist WHERE vec_id < 10),
        |probes AS (SELECT qd.query_id, qd.cell, np.np
        |  FROM qd, (VALUES (1), (2), (4), (8)) np(np) WHERE qd.rn <= np.np),
        |qv AS (SELECT vec_id AS query_id, v AS qv,
        |    sqrt(list_dot_product(v, v)) AS qn FROM base WHERE vec_id < 10),
        |cand AS (SELECT b.vec_id AS cand_id, b.v AS cv2,
        |    sqrt(list_dot_product(b.v, b.v)) AS cn, a.cell
        |  FROM base b JOIN assign a USING (vec_id)),
        |scored AS (SELECT p.np, p.query_id, c.cand_id,
        |    list_dot_product(q.qv, c.cv2) / (q.qn * c.cn) AS cosine
        |  FROM probes p JOIN cand c USING (cell)
        |  JOIN qv q ON q.query_id = p.query_id
        |  WHERE p.query_id <> c.cand_id),
        |ivf AS (SELECT np, query_id, cand_id FROM (
        |  SELECT np, query_id, cand_id, row_number() OVER (
        |    PARTITION BY np, query_id ORDER BY cosine DESC, cand_id) AS rank
        |  FROM scored) WHERE rank <= 5),
        |ex_scored AS (SELECT q.query_id, b.vec_id AS cand_id,
        |    list_dot_product(q.qv, b.v)
        |      / (q.qn * sqrt(list_dot_product(b.v, b.v))) AS cosine
        |  FROM base b, qv q WHERE q.query_id <> b.vec_id),
        |exact AS (SELECT query_id, cand_id FROM (
        |  SELECT query_id, cand_id, row_number() OVER (
        |    PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS rank
        |  FROM ex_scored) WHERE rank <= 5),
        |tot AS (SELECT count(*)::BIGINT AS total FROM exact)
        |SELECT np::BIGINT AS n_probe, count(*)::BIGINT AS hits, tot.total,
        |  count(*)::BIGINT::DOUBLE / tot.total::DOUBLE AS recall
        |FROM ivf JOIN exact USING (query_id, cand_id), tot
        |GROUP BY 1, 3""".stripMargin),
    Gate("q220_maxsim", (s, dir) => {
      // LATE-INTERACTION (ColBERT-style) MaxSim retrieval: documents
      // are SETS of token vectors (here vec_id div 8 groups 8 tokens
      // per doc) and score(Q, D) = Σ_q max_d cosine(q, d) — the
      // multi-vector ranking that beats single-vector retrieval on
      // fine-grained matches. max over identical doubles is
      // order-free (exact); only the 8-term sum is order-sensitive →
      // round 6 (rule 9), ranked with a cand tiebreak. 100 TB shape:
      // the token×token join broadcasts the query tokens; a corpus-
      // scale run prefilters candidates per query TOKEN via ANN
      // (q27/q210) and runs this exact MaxSim only on the union of
      // token-level candidates.
      val emb = tbl(s, dir, "embeddings")
      val tok = Similarity.withNorm(
        emb.select(floor(col("vec_id") / 8).cast("long").as("doc"),
          pmod(col("vec_id"), lit(8)).as("pos"),
          col("embedding").as("v")), "v", "nm")
      val qtok = tok.where(col("doc") < 2)
        .select(col("doc").as("qd"), col("pos").as("qpos"),
          col("v").as("qv"), col("nm").as("qn"))
      val mx = tok.join(broadcast(qtok), col("qd") =!= col("doc"))
        .groupBy(col("qd"), col("qpos"), col("doc").as("cd"))
        .agg(max(graft.expressions.FloatDotProduct(col("qv"), col("v"))
          / (col("qn") * col("nm"))).as("m"))
      val sc = mx.groupBy(col("qd").as("query_doc"), col("cd").as("cand_doc"))
        .agg(round(sum(col("m")), 6).as("maxsim"))
      val w = Window.partitionBy(col("query_doc"))
        .orderBy(col("maxsim").desc, col("cand_doc"))
      sc.withColumn("rank", row_number().over(w).cast("long"))
        .where(col("rank") <= 5)
    },
      // max over identical doubles is exact; only the 8-term qpos sum
      // is order-sensitive → round 6 (rule 9), cand_doc tiebreak
      """WITH t AS (SELECT vec_id // 8 AS doc, vec_id % 8 AS pos,
        |    embedding::DOUBLE[] AS v FROM embeddings),
        |n AS (SELECT doc, pos, v,
        |    sqrt(list_dot_product(v, v)) AS nm FROM t),
        |q AS (SELECT doc AS qd, pos AS qpos, v AS qv, nm AS qn
        |  FROM n WHERE doc < 2),
        |mx AS (SELECT q.qd, q.qpos, c.doc AS cd,
        |    max(list_dot_product(q.qv, c.v) / (q.qn * c.nm)) AS m
        |  FROM q JOIN n c ON q.qd <> c.doc
        |  GROUP BY 1, 2, 3),
        |sc AS (SELECT qd AS query_doc, cd AS cand_doc,
        |    round(sum(m), 6) AS maxsim
        |  FROM mx GROUP BY 1, 2)
        |SELECT query_doc, cand_doc, maxsim, rank FROM (
        |  SELECT query_doc, cand_doc, maxsim, row_number() OVER (
        |    PARTITION BY query_doc ORDER BY maxsim DESC, cand_doc) AS rank
        |  FROM sc) WHERE rank <= 5""".stripMargin),
    Gate("q246_rag_chunking", (s, dir) => {
      // RAG CHUNKING — overlapping token windows (size 32, stride
      // 24), the retrieval-corpus preparation step between raw docs
      // and the embedding/ANN family: each chunk carries its doc,
      // index, bounds and an md5 content fingerprint (the chunk-level
      // dedup key). Window count and slices are exact integer math on
      // ONE tokenize; the fan-out is explode(sequence) — zero joins,
      // zero shuffles before the final ordering, linear in total
      // tokens at any corpus size.
      val docs = tbl(s, dir, "documents")
        .where(pmod(col("doc_id"), lit(5L)) === 0)
        .select(col("doc_id"), TextFunctions.tokens(col("text")).as("t"))
        .withColumn("n", size(col("t")))
        .where(col("n") > 0)
        .withColumn("k",
          expr("1 + (greatest(n - 32, 0) + 23) div 24").cast("int"))
      docs.select(col("doc_id"), col("t"), col("n"),
          explode(sequence(lit(0), col("k") - 1)).as("i"))
        .withColumn("chunk", slice(col("t"), col("i") * 24 + 1, lit(32)))
        .select(col("doc_id"), col("i").cast("long").as("chunk_idx"),
          size(col("chunk")).cast("long").as("n_tokens"),
          element_at(col("chunk"), 1).as("first_tok"),
          element_at(col("chunk"), -1).as("last_tok"),
          md5(concat_ws(" ", col("chunk")).cast("binary")).as("fp"))
    },
      // q246: the identical window/slice integer math over the same
      // tokenize; DuckDB list_slice clamps like Spark's slice
      s"""WITH toks AS ($toksCte),
         |d AS (SELECT doc_id, t, len(t) AS n,
         |    1 + (greatest(len(t) - 32, 0) + 23) // 24 AS k
         |  FROM toks WHERE doc_id % 5 = 0 AND len(t) > 0),
         |c AS (SELECT doc_id, i AS chunk_idx,
         |    t[i * 24 + 1 : i * 24 + 32] AS chunk
         |  FROM d, unnest(generate_series(0, k - 1)) AS g(i))
         |SELECT doc_id, chunk_idx::BIGINT AS chunk_idx,
         |  len(chunk)::BIGINT AS n_tokens,
         |  chunk[1] AS first_tok, chunk[-1] AS last_tok,
         |  md5(array_to_string(chunk, ' ')) AS fp
         |FROM c""".stripMargin)
  )

  /** Language-ID marker words (shared between Spark impl and oracle). */
  val langMarkers: Map[String, Seq[String]] = Map(
    "de" -> Seq("customer", "vector", "big"),
    "en" -> Seq("order", "table", "window"),
    "es" -> Seq("slow", "agg", "merge"),
    "fr" -> Seq("scan", "data", "batch"),
    "zh" -> Seq("join", "small", "row"))

  /** Shared DuckDB CTE prefix for the media scratch corpora: hex view,
    * header decode, quarantine — q58/q76/q81 interpolate it with their
    * own scratch path, so the decode twin can never drift between
    * them (it mirrors Multimodal.decodeOne / decodeMetaExpr). */
  private def mediaDecodeCte(path: String): String =
    s"""raw AS (
       |  SELECT media_id, content, hex(content) AS hx,
       |    octet_length(content) AS len
       |  FROM read_parquet('$path/*.parquet')),
       |dec AS (
       |  SELECT media_id, hx, len,
       |    (content IS NOT NULL AND len >= 15 AND substr(hx,1,4) = '4752') AS magic_ok,
       |    CASE WHEN content IS NOT NULL AND len >= 15 AND substr(hx,1,4) = '4752'
       |         THEN ('0x' || substr(hx,5,2))::INT END AS kind_code,
       |    CASE WHEN len >= 15 THEN ('0x' || substr(hx,7,8))::BIGINT END AS w,
       |    CASE WHEN len >= 15 THEN ('0x' || substr(hx,15,8))::BIGINT END AS h
       |  FROM raw),
       |valid AS (SELECT * FROM dec WHERE magic_ok AND kind_code BETWEEN 0 AND 2)""".stripMargin

  /** q193's oracle: q96's recursive min-reachability clustering +
    * q22's per-doc quality, argmax per cluster by (quality DESC,
    * doc_id) — all expressions verbatim from their green oracles. */
  private def keepBestSql: String = {
    val qualityExpr =
      """least(len(t)::DOUBLE / 20.0, 1.0) * 0.4
        |    + (1.0 - least(((length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')))::DOUBLE
        |        / greatest(length(text), 1)::DOUBLE) * 4.0, 1.0)) * 0.2
        |    + (len(list_distinct(t))::DOUBLE / greatest(len(t), 1)::DOUBLE) * 0.4""".stripMargin
    s"""WITH RECURSIVE pairs AS ($simhash64PairsSql),
       |e AS (SELECT doc_a AS u, doc_b AS v FROM pairs
       |  UNION SELECT doc_b, doc_a FROM pairs),
       |reach(n, m) AS (
       |  SELECT u, u FROM e
       |  UNION
       |  SELECT e.u, r.m FROM e JOIN reach r ON e.v = r.n),
       |comp AS (SELECT n, min(m) AS cluster_id FROM reach GROUP BY n),
       |lab AS (SELECT d.doc_id,
       |    coalesce(c.cluster_id, d.doc_id) AS cluster_id
       |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.n),
       |toks AS ($toksCte),
       |qual AS (SELECT doc_id, $qualityExpr AS quality FROM toks),
       |j AS (SELECT l.doc_id, l.cluster_id, q.quality
       |  FROM lab l JOIN qual q USING (doc_id)),
       |rk AS (SELECT *, row_number() OVER (PARTITION BY cluster_id
       |    ORDER BY quality DESC, doc_id) AS rn,
       |    count(*) OVER (PARTITION BY cluster_id) AS csize FROM j)
       |SELECT cluster_id, doc_id AS kept_doc, quality AS kept_quality,
       |  csize::BIGINT AS cluster_size, (csize - 1)::BIGINT AS n_dropped
       |FROM rk WHERE rn = 1""".stripMargin
  }

  /** Nearest-neighbor 16x10 resize blob hex, shared by q58 and q76:
    * re-encoded header + string_agg of source bytes at the rebuilt
    * per-pixel index (Multimodal.resize's exact arithmetic). */
  private val resizeHexSql: String =
    """'475200' || '00000010' || '0000000A' || substr(hx, 23, 8) ||
      |  string_agg(
      |    CASE WHEN (((k//16) * h) // 10) * w + ((k%16) * w) // 16 < len - 15
      |         THEN substr(hx, 31 + ((((k//16) * h) // 10) * w + ((k%16) * w) // 16)*2, 2)
      |         ELSE '00' END, '' ORDER BY k)""".stripMargin

  /** q159/q160's oracle: replay the WHOLE unigram-LM hard-EM training
    * ([[graft.operators.UnigramLm]]) in DuckDB — substring seeding,
    * `iters` Viterbi-EM rounds, frequency prune, final encode. Each
    * Viterbi pass is `maxWordLen` chained MATERIALIZED DP blocks
    * (cell J = best predecessor among piece lengths 1..maxPieceLen,
    * ORDER BY score DESC, len DESC — the identical total order);
    * every count is an exact long and the log-prob tables round ln()
    * at 7dp (rule 9), so scores add the same doubles in the same
    * order on both engines. maxWordLen is the shared trainer
    * parameter, never a silent data bound. */
  private def unigramSql(encode: Boolean): String = {
    val maxPieceLen = 5; val seedSize = 300; val vocabSize = 200
    val iters = 3; val maxWordLen = 24
    val sb = new StringBuilder
    sb ++= s"""WITH words AS MATERIALIZED (
      |  SELECT w, count(*) AS freq FROM (
      |    SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
      |    FROM documents)
      |  WHERE len(w) BETWEEN 1 AND $maxWordLen GROUP BY w),
      |subs AS (
      |  SELECT substr(w, pos, l) AS p, sum(freq) AS cnt
      |  FROM words
      |  CROSS JOIN generate_series(1, $maxPieceLen) ls(l)
      |  CROSS JOIN (SELECT unnest(generate_series(1,
      |    (SELECT max(len(w)) FROM words))) AS pos) ps
      |  WHERE len(w) >= l AND pos <= len(w) - l + 1
      |  GROUP BY 1),
      |v0 AS MATERIALIZED (
      |  SELECT p, CAST(cnt AS BIGINT) AS cnt FROM (
      |    SELECT p, cnt, row_number() OVER (ORDER BY cnt DESC, p) AS rk
      |    FROM subs)
      |  WHERE rk <= $seedSize OR len(p) = 1)""".stripMargin
    // one Viterbi DP pass under log-prob table `lp`: blocks pre_0..pre_N
    def dpBlocks(pre: String, lp: String): String = {
      val blocks = new StringBuilder
      blocks ++= s""",
        |${pre}_0 AS MATERIALIZED (
        |  SELECT w, freq, CAST(0.0 AS DOUBLE) AS score, '' AS path
        |  FROM words)""".stripMargin
      for (j <- 1 to maxWordLen) {
        val cands = (1 to math.min(maxPieceLen, j)).map { l =>
          s"""      SELECT prev.w, prev.freq, prev.score, prev.path,
             |        t.p, t.lp, $l AS l
             |      FROM ${pre}_${j - l} prev JOIN $lp t
             |        ON len(prev.w) >= $j AND t.pl = $l
             |        AND t.p = substr(prev.w, ${j - l + 1}, $l)""".stripMargin
        }.mkString("\n      UNION ALL\n")
        blocks ++= s""",
          |${pre}_$j AS MATERIALIZED (
          |  SELECT w, freq, score, path FROM (
          |    SELECT c.w, c.freq, c.score + c.lp AS score,
          |      CASE WHEN c.path = '' THEN c.p
          |           ELSE c.path || ' ' || c.p END AS path,
          |      row_number() OVER (PARTITION BY c.w
          |        ORDER BY c.score + c.lp DESC, c.l DESC) AS rn
          |    FROM (
          |$cands
          |    ) c) WHERE rn = 1)""".stripMargin
      }
      blocks ++= s""",
        |${pre}_seg AS MATERIALIZED (
        |${(1 to maxWordLen).map(j =>
            s"  SELECT w, freq, path FROM ${pre}_$j WHERE len(w) = $j")
            .mkString("\n  UNION ALL\n")})""".stripMargin
      blocks.result()
    }
    for (i <- 1 to iters) {
      sb ++= s""",
        |lp$i AS MATERIALIZED (
        |  SELECT p, len(p) AS pl,
        |    round(ln(CAST(cnt AS DOUBLE) / t.total), 7) AS lp
        |  FROM v${i - 1}, (SELECT CAST(sum(cnt) AS DOUBLE) AS total
        |    FROM v${i - 1}) t)""".stripMargin
      sb ++= dpBlocks(s"d$i", s"lp$i")
      sb ++= s""",
        |us$i AS (
        |  SELECT p, CAST(sum(freq) AS BIGINT) AS cnt FROM (
        |    SELECT freq, unnest(string_split(path, ' ')) AS p
        |    FROM d${i}_seg) GROUP BY p),
        |v$i AS MATERIALIZED (
        |  SELECT p, cnt FROM (
        |    SELECT v.p,
        |      CASE WHEN len(v.p) = 1 THEN greatest(coalesce(u.cnt, 0), 1)
        |           ELSE coalesce(u.cnt, 0) END AS cnt
        |    FROM v${i - 1} v LEFT JOIN us$i u USING (p))
        |  WHERE cnt > 0)""".stripMargin
    }
    sb ++= s""",
      |vp AS MATERIALIZED (
      |  SELECT p, cnt FROM (
      |    SELECT p, cnt, row_number() OVER (ORDER BY cnt DESC, p) AS rk
      |    FROM v$iters)
      |  WHERE rk <= $vocabSize OR len(p) = 1),
      |lpf AS MATERIALIZED (
      |  SELECT p, len(p) AS pl,
      |    round(ln(CAST(cnt AS DOUBLE) / t.total), 7) AS lp
      |  FROM vp, (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM vp) t)""".stripMargin
    if (!encode) {
      sb ++= """
        |SELECT vp.p AS piece, vp.cnt, lpf.lp AS logp
        |FROM vp JOIN lpf ON vp.p = lpf.p""".stripMargin
    } else {
      sb ++= dpBlocks("df", "lpf")
      sb ++= """
        |SELECT w, freq, path AS pieces,
        |  CAST(len(string_split(path, ' ')) AS BIGINT) AS n_pieces
        |FROM df_seg""".stripMargin
    }
    sb.result()
  }

  /** q123's oracle: k chained merge blocks generated from the same
    * constants as [[graft.operators.Bpe.trainMerges]] — DuckDB
    * re-trains BPE from scratch: word histogram, per-iteration pair
    * counts (vocabulary-sized, like the Spark side), the (cnt desc,
    * l, r) argmax, and the identical greedy left-to-right
    * string-accumulator fold (chr(1) = Bpe.SEP). */
  private def bpeSql(k: Int): String = {
    // every w_i is referenced twice (by p_{i+1} and w_{i+1}); without
    // MATERIALIZED, DuckDB's CTE inlining doubles the tree per block —
    // 2^k expansion, which at k=60 exhausts file handles re-opening
    // the documents parquet. Materializing makes the plan linear in k.
    val header =
      """WITH words AS MATERIALIZED (SELECT w, count(*) AS freq FROM (
        |    SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
        |    FROM documents) t
        |  WHERE length(w) > 0 GROUP BY w),
        |w0 AS MATERIALIZED (SELECT freq,
        |    array_to_string(string_split(w, ''), chr(1)) AS syms FROM words)""".stripMargin
    val blocks = (1 to k).map { i =>
      s"""p$i AS (SELECT pr[1] AS l, pr[2] AS r, CAST(sum(freq) AS BIGINT) AS cnt
         |  FROM (SELECT freq, unnest(list_transform(
         |      generate_series(1, len(ls) - 1), i -> [ls[i], ls[i + 1]])) AS pr
         |    FROM (SELECT freq, string_split(syms, chr(1)) AS ls
         |      FROM w${i - 1}) t) u
         |  GROUP BY 1, 2),
         |b$i AS MATERIALIZED (SELECT l, r, cnt FROM p$i ORDER BY cnt DESC, l, r LIMIT 1),
         |w$i AS MATERIALIZED (SELECT freq, substr(list_reduce(
         |    list_prepend('', string_split(w.syms, chr(1))),
         |    (acc, x) -> CASE
         |      WHEN right(acc, 1 + length(b.l)) = chr(1) || b.l AND x = b.r
         |      THEN left(acc, length(acc) - 1 - length(b.l)) || chr(1) || b.l || b.r
         |      ELSE acc || chr(1) || x END), 2) AS syms
         |  FROM w${i - 1} w, b$i b)""".stripMargin
    }
    val union = (1 to k).map(i =>
      s"""SELECT CAST($i AS BIGINT) AS it, l AS "left", r AS "right", cnt FROM b$i""")
      .mkString("\n", "\nUNION ALL\n", "")
    (header +: blocks).mkString(",\n") + union
  }

  /** q124's oracle: the same k merge blocks, then the token histogram
    * of the fully-merged symbol strings (what a tokenizer consumer
    * reads) — weighted by word frequency, exact counts. */
  private def bpeEncodeSql(k: Int): String =
    bpeSql(k).split("\nSELECT CAST\\(1 AS BIGINT\\)").head +
      s"""
         |SELECT token, CAST(sum(freq) AS BIGINT) AS cnt FROM (
         |  SELECT freq, unnest(string_split(syms, chr(1))) AS token
         |  FROM w$k) t
         |GROUP BY token""".stripMargin

  private def langIdSql: String = {
    val langs = langMarkers.keys.toSeq.sorted
    def score(l: String) = {
      val lst = langMarkers(l).map(w => s"'$w'").mkString("[", ", ", "]")
      s"len(list_filter(t, x -> list_contains($lst, x)))::DOUBLE / greatest(len(t), 1)::DOUBLE AS s_$l"
    }
    val cases = langs.init.zipWithIndex.map { case (l, i) =>
      val rest = langs.drop(i + 1).map(o => s"s_$l >= s_$o").mkString(" AND ")
      s"WHEN $rest THEN '$l'"
    }.mkString(" ")
    s"""WITH toks AS ($toksCte),
       |scores AS (SELECT doc_id, lang, ${langs.map(score).mkString(", ")} FROM toks)
       |SELECT doc_id, lang,
       |  CASE $cases ELSE '${langs.last}' END AS guess,
       |  lang = (CASE $cases ELSE '${langs.last}' END) AS correct
       |FROM scores""".stripMargin
  }

  /** q72's trigram-profile twin: profiles generated by the SAME
    * `TextFunctions.trigramProfile` call the Spark broadcast side
    * uses, emitted as VALUES literals; same argmax + min(lang)
    * tiebreak + default-language fallback. */
  private def langIdNgramSql: String = {
    val values = TextFunctions.trigramProfile(langMarkers)
      .map { case (l, g) => s"('$l', '$g')" }.mkString(", ")
    val dflt = langMarkers.keys.min
    s"""WITH toks AS ($toksCte),
       |tri AS (SELECT doc_id, unnest(list_distinct(flatten(list_transform(
       |    list_filter(t, w -> len(w) >= 3), w ->
       |    list_transform(generate_series(1, len(w) - 2), i -> substr(w, i, 3)))))) AS g
       |  FROM toks),
       |prof AS (SELECT * FROM (VALUES $values) v(lang_p, g)),
       |scores AS (SELECT doc_id, lang_p, count(*) AS cnt
       |  FROM tri JOIN prof USING (g) GROUP BY doc_id, lang_p),
       |best AS (SELECT doc_id, max(cnt) AS mx FROM scores GROUP BY doc_id),
       |g2 AS (SELECT s.doc_id, min(s.lang_p) AS guess
       |  FROM scores s JOIN best b ON s.doc_id = b.doc_id AND s.cnt = b.mx
       |  GROUP BY s.doc_id)
       |SELECT d.doc_id, d.lang, coalesce(g2.guess, '$dflt') AS guess,
       |  d.lang = coalesce(g2.guess, '$dflt') AS correct
       |FROM documents d LEFT JOIN g2 ON d.doc_id = g2.doc_id""".stripMargin
  }

  private def annLshSql: String =
    s"""WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |b AS (SELECT vec_id, v, ${lshBucketSqlExpr("v", 4, 64)} AS bucket FROM base),
       |q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM b WHERE vec_id < 10),
       |c AS (SELECT vec_id AS cand_id, v AS cv, bucket FROM b),
       |scored AS (SELECT query_id, cand_id,
       |  list_dot_product(qv, cv)
       |    / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cosine
       |  FROM c JOIN q USING (bucket) WHERE query_id <> cand_id)
       |SELECT query_id, cand_id, cosine, rank FROM (
       |  SELECT query_id, cand_id, cosine, row_number() OVER (
       |    PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS rank
       |  FROM scored) WHERE rank <= 5""".stripMargin

  /** q64 oracle: multi-probe LSH replicated in SQL — same plane
    * literals, same (|margin|, bit) sort (struct comparison is
    * field-lexicographic in both engines, bit index breaks margin
    * ties), same own-bucket + 2 bit-flip probe set. Projections are
    * bit-identical across engines (q27-established FloatDotProduct ↔
    * list_dot_product parity), so the probe sets coincide exactly. */
  private def annMultiProbeSql: String = {
    val nBits = 8; val dim = 64; val nProbe = 3; val k = 5
    val planes = operators.Similarity.planeSigns(nBits, dim)
    val projDefs = planes.zipWithIndex.map { case (p, b) =>
      val arr = p.map(v => if (v > 0) "1.0" else "-1.0").mkString("[", ", ", "]")
      s"list_dot_product(v, $arr) AS p$b"
    }.mkString(", ")
    val bucket = (0 until nBits)
      .map(b => s"(CASE WHEN p$b > 0 THEN ${1L << b} ELSE 0 END)").mkString(" + ")
    val margins = (0 until nBits)
      .map(b => s"struct_pack(m := abs(p$b), b := $b)").mkString("[", ", ", "]")
    val probeList = ("bucket0" +: (1 until nProbe).map(i =>
      s"xor(bucket0, 1 << flips[$i])")).mkString(", ")
    s"""WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |proj AS (SELECT vec_id, v, $projDefs FROM base),
       |bkt AS (SELECT vec_id, v, $bucket AS bucket0,
       |  list_transform(list_sort($margins), x -> x.b) AS flips FROM proj),
       |c AS (SELECT vec_id AS cand_id, v AS cv, bucket0 AS bucket FROM bkt),
       |q AS (SELECT vec_id AS query_id, v AS qv,
       |  unnest([$probeList]) AS bucket
       |  FROM bkt WHERE vec_id < 10),
       |scored AS (SELECT DISTINCT query_id, cand_id,
       |  list_dot_product(qv, cv)
       |    / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cosine
       |  FROM c JOIN q USING (bucket) WHERE query_id <> cand_id)
       |SELECT query_id, cand_id, cosine, rank FROM (
       |  SELECT query_id, cand_id, cosine, row_number() OVER (
       |    PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS rank
       |  FROM scored) WHERE rank <= $k""".stripMargin
  }

  /** CTE chain ending in `sims(doc_id, simhash)` — shared by q28 and
    * the q54 banded near-dup pair oracle. */
  private def simhashCteSql: String = {
    val sums = (0 until 16).map(i =>
      s"sum(CASE WHEN strpos('89abcdef', substr(md5(tok), ${i + 1}, 1)) > 0 THEN 1 ELSE -1 END) AS p$i")
      .mkString(", ")
    val bits = (0 until 16).map(i =>
      s"CASE WHEN p$i > 0 THEN ${1L << (15 - i)} ELSE 0 END").mkString(" + ")
    s"""toks AS (SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS tok FROM documents),
       |sums AS (SELECT doc_id, $sums FROM toks GROUP BY doc_id),
       |sims AS (SELECT doc_id, CAST($bits AS BIGINT) AS simhash FROM sums)""".stripMargin
  }

  private def simhashSql: String =
    s"WITH $simhashCteSql\nSELECT doc_id, simhash FROM sims"

  private def simhashPairsSql: String =
    s"""WITH $simhashCteSql
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
       |FROM sims a JOIN sims b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= 1""".stripMargin
}
