package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkEntry.scratchDir
import graft.functions.VectorFns
import graft.operators.Similarity
import graft.queries.QueryFixtures._

/** Retrieval queries: `Similarity`, `TextIndex`, `VectorFns` and
  * `EmbeddingStats`.
  */
object RetrievalQueries {

  /** q100: RRF over the q75 BM25 machinery (nested as a subquery — its
    * 6-dp rounding is what pins rank order across engines) and the q27
    * unnest-zip cosine. Ranks = row_number over (rounded score desc, id);
    * the final cut orders on RAW fused score (ties exact: sums of
    * identical reciprocals) with id tie-break.
    */
  private val RrfOracleSql: String =
    s"""WITH bmraw AS (SELECT doc_id, bm25 AS score FROM ($Bm25OracleSql)),
      |bmtop AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS r
      |  FROM bmraw ORDER BY score DESC, doc_id LIMIT 50),
      |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
      |z AS (SELECT e.vec_id, unnest(e.v) AS a, unnest(q.qv) AS b FROM e, q),
      |cs AS (SELECT vec_id,
      |  round(sum(a * b) / (sqrt(sum(a * a)) * sqrt(sum(b * b))), 6) AS score
      |  FROM z GROUP BY vec_id),
      |ctop AS (SELECT vec_id AS doc_id, row_number() OVER (ORDER BY score DESC, vec_id) AS r
      |  FROM cs ORDER BY score DESC, vec_id LIMIT 50),
      |u AS (SELECT doc_id, r FROM bmtop UNION ALL SELECT doc_id, r FROM ctop),
      |f AS (SELECT doc_id, sum(1.0::DOUBLE / (60 + r)) AS raw,
      |  count(*) AS n_systems FROM u GROUP BY doc_id)
      |SELECT doc_id, round(raw, 6) AS rrf, n_systems
      |FROM f ORDER BY raw DESC, doc_id LIMIT 20""".stripMargin

  /** q109: q100's fusion with BOTH legs re-derived the indexed way — the
    * BM25 leg is q75's relation (the text index is hash-proven to
    * reproduce it, q79), the ANN leg is q105's probed-ADC relation (the
    * IVF-PQ index is hash-proven to reproduce it, q106). Ranks on the
    * 6-dp-rounded scores with id tie-breaks, RRF k = 60, top 20.
    */
  private val IndexedHybridOracleSql: String =
    s"""WITH bmraw AS (SELECT doc_id, bm25 AS score FROM ($Bm25OracleSql)),
      |bmtop AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS r
      |  FROM bmraw ORDER BY score DESC, doc_id LIMIT 50),
      |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      |  FROM embeddings WHERE embedding IS NOT NULL),
      |don AS (SELECT vec_id AS did, v AS dv FROM e
      |  ORDER BY ((((vec_id % 2147483648) + 2147483648) % 2147483648) * 2654435761) % 4294967296, vec_id LIMIT 16),
      |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
      |fulld AS (SELECT e.vec_id, d.did,
      |  list_reduce(list_transform(range(1, len(e.v) + 1),
      |    j -> (e.v[j] - d.dv[j]) * (e.v[j] - d.dv[j])), (x, y) -> x + y) AS dd
      |  FROM e CROSS JOIN don d),
      |asg AS (SELECT vec_id, did AS lst FROM fulld
      |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dd, did) = 1),
      |pl AS (SELECT did AS lst FROM don CROSS JOIN q
      |  ORDER BY list_reduce(list_transform(range(1, len(dv) + 1),
      |    j -> (dv[j] - qv[j]) * (dv[j] - qv[j])), (x, y) -> x + y), did LIMIT 4),
      |cand AS (SELECT a.vec_id FROM asg a JOIN pl ON a.lst = pl.lst),
      |sd AS (SELECT e.vec_id, t.j, d.did,
      |  list_reduce(list_transform(range(1, 9), i ->
      |    (e.v[t.j * 8 + i] - d.dv[t.j * 8 + i]) *
      |    (e.v[t.j * 8 + i] - d.dv[t.j * 8 + i])), (x, y) -> x + y) AS s
      |  FROM e CROSS JOIN range(8) t(j) CROSS JOIN don d),
      |codes AS (SELECT vec_id, j, did AS code FROM sd
      |  QUALIFY row_number() OVER (PARTITION BY vec_id, j
      |    ORDER BY s ASC, did ASC) = 1),
      |qt AS (SELECT j, did, s FROM sd WHERE vec_id = 0),
      |adc AS (SELECT c.vec_id, sum(q2.s) AS adc FROM codes c
      |  JOIN cand ON cand.vec_id = c.vec_id
      |  JOIN qt q2 ON q2.j = c.j AND q2.did = c.code GROUP BY c.vec_id),
      |atop AS (SELECT vec_id AS doc_id,
      |  row_number() OVER (ORDER BY round(adc, 6) ASC, vec_id) AS r
      |  FROM adc ORDER BY round(adc, 6) ASC, vec_id LIMIT 50),
      |u AS (SELECT doc_id, r FROM bmtop UNION ALL SELECT doc_id, r FROM atop),
      |f AS (SELECT doc_id, sum(1.0::DOUBLE / (60 + r)) AS raw,
      |  count(*) AS n_systems FROM u GROUP BY doc_id)
      |SELECT doc_id, round(raw, 6) AS rrf, n_systems
      |FROM f ORDER BY raw DESC, doc_id LIMIT 20""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    // Similarity: exact brute-force cosine top-k (baseline).
    QuerySpec("q27_ann_brute", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
      Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, 10)
        .select(col("vec_id"), round(col("cosine"), 4).as("cosine"))
    },
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        |z AS (SELECT e.vec_id, unnest(CAST(e.embedding AS DOUBLE[])) AS a,
        |  unnest(CAST(q.qv AS DOUBLE[])) AS b FROM embeddings e, q),
        |s AS (SELECT vec_id, sum(a * b) AS dp, sum(a * a) AS na, sum(b * b) AS nb
        |  FROM z GROUP BY vec_id)
        |SELECT vec_id, round(dp / (sqrt(na) * sqrt(nb)), 4) AS cosine
        |FROM s ORDER BY dp / (sqrt(na) * sqrt(nb)) DESC, vec_id LIMIT 10""".stripMargin),

    // Similarity: LSH-bucketed ANN (scale path; rows-only check).
    // RP-LSH bucket bits recomputed from the engine's LCG hyperplanes
    // (seed 42, 8 bits), probe = query bucket + single-bit flips of bits
    // 0..2, exact cosine rerank, top-5.
    QuerySpec("q28_ann_lsh", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
      Similarity.annLsh(emb, "vec_id", "embedding", q, 5, nBits = 8, probes = 3)
        .select(col("vec_id"), round(col("cosine"), 4).as("cosine"))
    },
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
        |pb AS (SELECT vec_id, b,
        |  CASE WHEN list_reduce(list_transform(range(1, len(v) + 1), j ->
        |    CASE WHEN ((1103515245 * (42 * 1000003 + b * 8191 + (j - 1)) + 12345)
        |        % 2147483648) // 1073741824 % 2 = 0
        |      THEN v[j] ELSE -v[j] END), (x, y) -> x + y) >= 0
        |    THEN 1::BIGINT << b ELSE 0 END AS bit
        |  FROM e CROSS JOIN range(8) t(b)),
        |bk AS (SELECT vec_id, sum(bit)::BIGINT AS bucket FROM pb GROUP BY 1),
        |qb AS (SELECT bucket AS qbucket FROM bk WHERE vec_id = 0),
        |cand AS (SELECT e.vec_id, e.v FROM e JOIN bk USING (vec_id), qb
        |  WHERE bucket IN (qbucket, xor(qbucket, 1), xor(qbucket, 2), xor(qbucket, 4))),
        |s AS (SELECT vec_id,
        |  list_reduce(list_transform(range(1, len(v) + 1), j -> v[j] * qv[j]), (x, y) -> x + y) AS dp,
        |  list_reduce(list_transform(range(1, len(v) + 1), j -> v[j] * v[j]), (x, y) -> x + y) AS na,
        |  list_reduce(list_transform(range(1, len(qv) + 1), j -> qv[j] * qv[j]), (x, y) -> x + y) AS nb
        |  FROM cand CROSS JOIN q)
        |SELECT vec_id, round(dp / (sqrt(na) * sqrt(nb)), 4) AS cosine
        |FROM s ORDER BY dp / (sqrt(na) * sqrt(nb)) DESC, vec_id LIMIT 5""".stripMargin),

    // Similarity: IVF ANN — map-side argmin assignment over broadcast
    // centroids (zero shuffle), probe-list scan, exact rerank. Fully
    // oracled: centroid choice and assignment are SQL-reproducible.
    // IVF recomputed end-to-end: Knuth-hash centroid choice, per-vector
    // argmin assignment (squared L2, ties on cid), 4 probed lists nearest
    // the query, exact cosine rerank, top-10.
    QuerySpec("q62_ann_ivf", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
      Similarity.ivfTopK(emb, "vec_id", "embedding", q, 10, nLists = 16, nProbe = 4)
        .select(col("vec_id"), round(col("cosine"), 4).as("cosine"))
    },
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |c AS (SELECT vec_id AS cid, v AS cv FROM e
        |  ORDER BY ((((vec_id % 2147483648) + 2147483648) % 2147483648) * 2654435761) % 4294967296, vec_id LIMIT 16),
        |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
        |d AS (SELECT e.vec_id, e.v, c.cid,
        |  list_reduce(list_transform(range(1, len(e.v) + 1),
        |    j -> (e.v[j] - c.cv[j]) * (e.v[j] - c.cv[j])), (x, y) -> x + y) AS dd
        |  FROM e CROSS JOIN c),
        |asg AS (SELECT vec_id, v, cid FROM d
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dd, cid) = 1),
        |pl AS (SELECT cid FROM c CROSS JOIN q
        |  ORDER BY list_reduce(list_transform(range(1, len(cv) + 1),
        |    j -> (cv[j] - qv[j]) * (cv[j] - qv[j])), (x, y) -> x + y), cid LIMIT 4),
        |s AS (SELECT a.vec_id,
        |  list_reduce(list_transform(range(1, len(a.v) + 1), j -> a.v[j] * qv[j]), (x, y) -> x + y) AS dp,
        |  list_reduce(list_transform(range(1, len(a.v) + 1), j -> a.v[j] * a.v[j]), (x, y) -> x + y) AS na,
        |  list_reduce(list_transform(range(1, len(qv) + 1), j -> qv[j] * qv[j]), (x, y) -> x + y) AS nb
        |  FROM asg a JOIN pl ON a.cid = pl.cid CROSS JOIN q)
        |SELECT vec_id, round(dp / (sqrt(na) * sqrt(nb)), 4) AS cosine
        |FROM s ORDER BY dp / (sqrt(na) * sqrt(nb)) DESC, vec_id LIMIT 10""".stripMargin),

    // int8 embedding quantization: the 4x-memory ANN trade. Scale is the
    // element-wise abs max; codes round half-away-from-zero — both exactly
    // reproducible in SQL, so the oracle re-derives every code.
    QuerySpec("q73_quantize_int8", (s, dir) => {
      val emb = t(s, dir, "embeddings").filter(col("embedding").isNotNull)
      emb.withColumn("s", graft.functions.VectorFns.quantizeInt8(col("embedding")))
        .select(col("vec_id"),
          round(col("s.scale").cast("double"), 6).as("scale_r"),
          expr("aggregate(s.q, 0L, (a, x) -> a + CAST(x AS BIGINT))").as("qsum"),
          expr("aggregate(s.q, -128L, (a, x) -> greatest(a, CAST(x AS BIGINT)))").as("qmax"))
    },
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |m AS (SELECT vec_id, v,
        |  list_max(list_transform(v, x -> abs(x))) AS sc FROM e),
        |q AS (SELECT vec_id, sc,
        |  list_transform(v, x -> CASE WHEN sc = 0 THEN 0
        |    ELSE CAST(floor(abs(x) / sc * 127 + 0.5) *
        |         (CASE WHEN x < 0 THEN -1 ELSE 1 END) AS BIGINT) END) AS qs
        |  FROM m)
        |SELECT vec_id, round(CAST(CAST(sc AS FLOAT) AS DOUBLE), 6) AS scale_r,
        |  CAST(list_sum(qs) AS BIGINT) AS qsum,
        |  CAST(list_max(qs) AS BIGINT) AS qmax
        |FROM q""".stripMargin),

    // Hybrid retrieval: reciprocal-rank fusion of a BM25 text run and an
    // embedding-cosine run over the shared id space. Both runs rank their
    // 6-dp-rounded scores (rounding pins rank order across engines) via
    // TakeOrderedAndProject + broadcast count-join — no partitionless
    // window anywhere — then fuse by Σ 1/(60+rank), top-20.
    QuerySpec("q100_rrf_hybrid", (s, dir) => {
      import graft.operators.{Curation, Similarity}
      val bm = Curation.bm25(t(s, dir, "documents"), "doc_id", "text",
          Seq("spark", "query", "join"))
        .select(col("doc_id"), round(col("bm25"), 6).as("score"))
      val textRun = Similarity.rankByScore(bm, "doc_id", "score", topN = 50)
      val emb = t(s, dir, "embeddings")
      val qv = emb.filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>").as("qv"))
      val cos = emb.crossJoin(broadcast(qv))
        .select(col("vec_id").as("doc_id"),
          round(graft.functions.VectorFns.cosine(
            col("embedding").cast("array<double>"), col("qv")), 6).as("score"))
      val vecRun = Similarity.rankByScore(cos, "doc_id", "score", topN = 50)
      Similarity.rrfFuse(Seq(textRun, vecRun), "doc_id", "rank",
          kRrf = 60, topN = 20)
        .select(col("doc_id"), round(col("rrf"), 6).as("rrf"),
          col("n_systems"))
    },
      RrfOracleSql),

    // Inverted-index BM25: build the partitioned postings index, then
    // answer the q75 query THROUGH it — same oracle, so any index-path
    // corruption (bucketing, stats sidecar, df counting) breaks the hash.
    // same oracle as q75: the index path must reproduce direct BM25 exactly
    QuerySpec("q79_text_index", (s, dir) => {
      import graft.operators.TextIndex
      val path = scratchDir("graft_tix")
        .resolve("idx").toString
      // 16 buckets at gate scale (64-dir writes are pure file overhead
      // on a 5k-doc corpus; pruning semantics identical)
      TextIndex.write(t(s, dir, "documents"), "doc_id", "text", path,
        nBuckets = 16)
      TextIndex.search(s, path, Seq("spark", "query", "join"), k = 1000000)
        .select(col("doc_id"), round(col("bm25"), 6).as("bm25"), col("n_terms"))
    },
      Bm25OracleSql),

    // Rolling TEXT-index lifecycle: build on the corpus, append planted
    // high-id docs (including empty-text ones — the sentinel-registry
    // path), compact, then REMOVE exactly the appended docs. The search
    // must hash-match the plain-corpus BM25 oracle: any drift in the
    // append/remove stats arithmetic (N, avgdl), sentinel accounting, or
    // compaction shows up through idf/avgdl in every score.
    QuerySpec("q112_text_index_rolling", (s, dir) => {
      import graft.operators.TextIndex
      val docs = t(s, dir, "documents")
      val o = docs.agg(coalesce(max(col("doc_id")), lit(0L))).head().getLong(0)
      val extra = docs.filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + lit(o + 1)).as("doc_id"), col("text"))
      val idx = scratchDir("graft_rtix").resolve("idx").toString
      TextIndex.write(docs, "doc_id", "text", idx, nBuckets = 16)
      TextIndex.append(extra, "doc_id", "text", idx)
      TextIndex.compact(s, idx)
      TextIndex.remove(s, idx, extra.select(col("doc_id")), "doc_id")
      TextIndex.search(s, idx, Seq("spark", "query", "join"), k = 1000000)
        .select(col("doc_id"), round(col("bm25"), 6).as("bm25"),
          col("n_terms"))
    },
      Bm25OracleSql),

    // INDEXED hybrid retrieval — the full serving composition: BM25
    // through the persisted inverted text index (q79 machinery) fused by
    // RRF with ANN through the persisted IVF-PQ index (q106 machinery).
    // Both legs are partition-pruned index probes; neither touches the
    // raw corpus at query time. Oracle: q75's BM25 ranks ⊕ q105's ADC
    // ranks through the same reciprocal-rank fusion as q100.
    QuerySpec("q109_indexed_hybrid", (s, dir) => {
      import graft.operators.{Similarity, TextIndex}
      val tix = scratchDir("graft_hytix").resolve("idx").toString
      TextIndex.write(t(s, dir, "documents"), "doc_id", "text", tix,
        nBuckets = 16)
      val bm = TextIndex.search(s, tix, Seq("spark", "query", "join"),
          k = 1000000)
        .select(col("doc_id"), round(col("bm25"), 6).as("score"))
      val textRun = Similarity.rankByScore(bm, "doc_id", "score", topN = 50)
      val emb = t(s, dir, "embeddings")
      val qv = emb.filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>")).head()
        .getSeq[Double](0)
      val pq = scratchDir("graft_hypq").resolve("idx").toString
      Similarity.writeIvfPqIndex(emb, "vec_id", "embedding", pq,
        nLists = 16, m = 8, nCodes = 16)
      // ADC ranks ASCENDING: negate the rounded distance so the shared
      // rank-desc machinery orders it (ties still break on smaller id)
      val ann = Similarity.ivfPqTopKIndexed(s, pq, "vec_id", qv,
          k = 50, nProbe = 4)
        .select(col("vec_id").as("doc_id"),
          (-round(col("adc"), 6)).as("score"))
      val vecRun = Similarity.rankByScore(ann, "doc_id", "score", topN = 50)
      Similarity.rrfFuse(Seq(textRun, vecRun), "doc_id", "rank",
          kRrf = 60, topN = 20)
        .select(col("doc_id"), round(col("rrf"), 6).as("rrf"),
          col("n_systems"))
    },
      IndexedHybridOracleSql),

    // Product-quantization ANN: hash-donor codebooks (the q62 selection
    // formula), 8×8-dim subspace encode, asymmetric-distance top-10 for
    // the vec_id=0 query. The oracle re-derives donor choice, per-
    // subspace argmin codes and the ADC sum — any drift in encode or
    // lookup shifts a code and breaks the hash.
    QuerySpec("q104_pq_adc", (s, dir) => {
      import graft.operators.Similarity
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>")).head()
        .getSeq[Double](0)
      Similarity.pqTopK(emb, "vec_id", "embedding", q, k = 10,
          m = 8, nCodes = 16)
        .select(col("vec_id"), round(col("adc"), 6).as("adc"))
    },
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |don AS (SELECT vec_id AS did, v AS dv FROM e
        |  ORDER BY ((((vec_id % 2147483648) + 2147483648) % 2147483648) * 2654435761) % 4294967296, vec_id LIMIT 16),
        |sd AS (SELECT e.vec_id, t.j, d.did,
        |  list_reduce(list_transform(range(1, 9), i ->
        |    (e.v[t.j * 8 + i] - d.dv[t.j * 8 + i]) *
        |    (e.v[t.j * 8 + i] - d.dv[t.j * 8 + i])), (x, y) -> x + y) AS s
        |  FROM e CROSS JOIN range(8) t(j) CROSS JOIN don d),
        |codes AS (SELECT vec_id, j, did AS code FROM sd
        |  QUALIFY row_number() OVER (PARTITION BY vec_id, j
        |    ORDER BY s ASC, did ASC) = 1),
        |qt AS (SELECT j, did, s FROM sd WHERE vec_id = 0),
        |adc AS (SELECT c.vec_id, sum(q.s) AS adc FROM codes c
        |  JOIN qt q ON q.j = c.j AND q.did = c.code GROUP BY c.vec_id)
        |SELECT vec_id, round(adc, 6) AS adc
        |FROM adc ORDER BY adc ASC, vec_id LIMIT 10""".stripMargin),

    // IVF-PQ combined serving shape: coarse hash-centroid lists prune to
    // nProbe=4 of 16, PQ codes rank the survivors by asymmetric distance
    // — FAISS's IVFPQ re-expressed over the q62 + q104 oracle machinery.
    QuerySpec("q105_ivfpq", (s, dir) => {
      import graft.operators.Similarity
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>")).head()
        .getSeq[Double](0)
      Similarity.ivfPqTopK(emb, "vec_id", "embedding", q, k = 10,
          nLists = 16, nProbe = 4, m = 8, nCodes = 16)
        .select(col("vec_id"), round(col("adc"), 6).as("adc"))
    },
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |don AS (SELECT vec_id AS did, v AS dv FROM e
        |  ORDER BY ((((vec_id % 2147483648) + 2147483648) % 2147483648) * 2654435761) % 4294967296, vec_id LIMIT 16),
        |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
        |fulld AS (SELECT e.vec_id, d.did,
        |  list_reduce(list_transform(range(1, len(e.v) + 1),
        |    j -> (e.v[j] - d.dv[j]) * (e.v[j] - d.dv[j])), (x, y) -> x + y) AS dd
        |  FROM e CROSS JOIN don d),
        |asg AS (SELECT vec_id, did AS lst FROM fulld
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dd, did) = 1),
        |pl AS (SELECT did AS lst FROM don CROSS JOIN q
        |  ORDER BY list_reduce(list_transform(range(1, len(dv) + 1),
        |    j -> (dv[j] - qv[j]) * (dv[j] - qv[j])), (x, y) -> x + y), did LIMIT 4),
        |cand AS (SELECT a.vec_id FROM asg a JOIN pl ON a.lst = pl.lst),
        |sd AS (SELECT e.vec_id, t.j, d.did,
        |  list_reduce(list_transform(range(1, 9), i ->
        |    (e.v[t.j * 8 + i] - d.dv[t.j * 8 + i]) *
        |    (e.v[t.j * 8 + i] - d.dv[t.j * 8 + i])), (x, y) -> x + y) AS s
        |  FROM e CROSS JOIN range(8) t(j) CROSS JOIN don d),
        |codes AS (SELECT vec_id, j, did AS code FROM sd
        |  QUALIFY row_number() OVER (PARTITION BY vec_id, j
        |    ORDER BY s ASC, did ASC) = 1),
        |qt AS (SELECT j, did, s FROM sd WHERE vec_id = 0),
        |adc AS (SELECT c.vec_id, sum(q2.s) AS adc FROM codes c
        |  JOIN cand ON cand.vec_id = c.vec_id
        |  JOIN qt q2 ON q2.j = c.j AND q2.did = c.code GROUP BY c.vec_id)
        |SELECT vec_id, round(adc, 6) AS adc
        |FROM adc ORDER BY adc ASC, vec_id LIMIT 10""".stripMargin),

    // PERSISTED IVF-PQ: build the partitioned code index (codes/ keyed by
    // ivf_list, codebooks in the sidecar), then answer q105's query
    // THROUGH it — same oracle, so any index-path divergence (sidecar
    // round-trip, partition pruning, code layout) breaks the hash. The
    // probe scan never touches the raw embeddings.
    // identical math to q105 — the Spark side goes through the PERSISTED
    // index (build → sidecar → partition-pruned probe), the oracle
    // recomputes the one-shot form; equal hashes prove the round trip
    QuerySpec("q106_ivfpq_index", (s, dir) => {
      import graft.operators.Similarity
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>")).head()
        .getSeq[Double](0)
      val idx = scratchDir("graft_pqidx").resolve("idx").toString
      Similarity.writeIvfPqIndex(emb, "vec_id", "embedding", idx,
        nLists = 16, m = 8, nCodes = 16)
      Similarity.ivfPqTopKIndexed(s, idx, "vec_id", q, k = 10, nProbe = 4)
        .select(col("vec_id"), round(col("adc"), 6).as("adc"))
    },
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |don AS (SELECT vec_id AS did, v AS dv FROM e
        |  ORDER BY ((((vec_id % 2147483648) + 2147483648) % 2147483648) * 2654435761) % 4294967296, vec_id LIMIT 16),
        |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
        |fulld AS (SELECT e.vec_id, d.did,
        |  list_reduce(list_transform(range(1, len(e.v) + 1),
        |    j -> (e.v[j] - d.dv[j]) * (e.v[j] - d.dv[j])), (x, y) -> x + y) AS dd
        |  FROM e CROSS JOIN don d),
        |asg AS (SELECT vec_id, did AS lst FROM fulld
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dd, did) = 1),
        |pl AS (SELECT did AS lst FROM don CROSS JOIN q
        |  ORDER BY list_reduce(list_transform(range(1, len(dv) + 1),
        |    j -> (dv[j] - qv[j]) * (dv[j] - qv[j])), (x, y) -> x + y), did LIMIT 4),
        |cand AS (SELECT a.vec_id FROM asg a JOIN pl ON a.lst = pl.lst),
        |sd AS (SELECT e.vec_id, t.j, d.did,
        |  list_reduce(list_transform(range(1, 9), i ->
        |    (e.v[t.j * 8 + i] - d.dv[t.j * 8 + i]) *
        |    (e.v[t.j * 8 + i] - d.dv[t.j * 8 + i])), (x, y) -> x + y) AS s
        |  FROM e CROSS JOIN range(8) t(j) CROSS JOIN don d),
        |codes AS (SELECT vec_id, j, did AS code FROM sd
        |  QUALIFY row_number() OVER (PARTITION BY vec_id, j
        |    ORDER BY s ASC, did ASC) = 1),
        |qt AS (SELECT j, did, s FROM sd WHERE vec_id = 0),
        |adc AS (SELECT c.vec_id, sum(q2.s) AS adc FROM codes c
        |  JOIN cand ON cand.vec_id = c.vec_id
        |  JOIN qt q2 ON q2.j = c.j AND q2.did = c.code GROUP BY c.vec_id)
        |SELECT vec_id, round(adc, 6) AS adc
        |FROM adc ORDER BY adc ASC, vec_id LIMIT 10""".stripMargin),

    // TWO-STAGE refined probe (FAISS refine / IVFPQR, Jégou et al. 2011
    // §V): ADC shortlists k·refine=40 candidates through the persisted
    // index, then ONLY those 40 are re-scored EXACTLY against the raw
    // vector relation — quantization error moves recall, never the
    // returned distances. The oracle reruns q106's ADC CTEs with the
    // wider limit, then re-scores the shortlist in exact arithmetic.
    // q106's ADC CTEs widened to the k·refine=40 shortlist, then the
    // shortlist re-scored EXACTLY against the raw vectors — rerank order
    // and exact distances must match the index-path refine bit-for-bit
    QuerySpec("q128_ivfpq_refined", (s, dir) => {
      import graft.operators.Similarity
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>")).head()
        .getSeq[Double](0)
      val idx = scratchDir("graft_pqrefine").resolve("idx").toString
      Similarity.writeIvfPqIndex(emb, "vec_id", "embedding", idx,
        nLists = 16, m = 8, nCodes = 16)
      Similarity.ivfPqTopKRefined(s, idx, "vec_id", emb, "embedding", q,
          k = 10, nProbe = 4, refine = 4)
        .select(col("vec_id"), round(col("dist"), 6).as("dist"))
    },
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |don AS (SELECT vec_id AS did, v AS dv FROM e
        |  ORDER BY ((((vec_id % 2147483648) + 2147483648) % 2147483648) * 2654435761) % 4294967296, vec_id LIMIT 16),
        |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
        |fulld AS (SELECT e.vec_id, d.did,
        |  list_reduce(list_transform(range(1, len(e.v) + 1),
        |    j -> (e.v[j] - d.dv[j]) * (e.v[j] - d.dv[j])), (x, y) -> x + y) AS dd
        |  FROM e CROSS JOIN don d),
        |asg AS (SELECT vec_id, did AS lst FROM fulld
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dd, did) = 1),
        |pl AS (SELECT did AS lst FROM don CROSS JOIN q
        |  ORDER BY list_reduce(list_transform(range(1, len(dv) + 1),
        |    j -> (dv[j] - qv[j]) * (dv[j] - qv[j])), (x, y) -> x + y), did LIMIT 4),
        |cand AS (SELECT a.vec_id FROM asg a JOIN pl ON a.lst = pl.lst),
        |sd AS (SELECT e.vec_id, t.j, d.did,
        |  list_reduce(list_transform(range(1, 9), i ->
        |    (e.v[t.j * 8 + i] - d.dv[t.j * 8 + i]) *
        |    (e.v[t.j * 8 + i] - d.dv[t.j * 8 + i])), (x, y) -> x + y) AS s
        |  FROM e CROSS JOIN range(8) t(j) CROSS JOIN don d),
        |codes AS (SELECT vec_id, j, did AS code FROM sd
        |  QUALIFY row_number() OVER (PARTITION BY vec_id, j
        |    ORDER BY s ASC, did ASC) = 1),
        |qt AS (SELECT j, did, s FROM sd WHERE vec_id = 0),
        |adc AS (SELECT c.vec_id, sum(q2.s) AS adc FROM codes c
        |  JOIN cand ON cand.vec_id = c.vec_id
        |  JOIN qt q2 ON q2.j = c.j AND q2.did = c.code GROUP BY c.vec_id),
        |sl AS (SELECT vec_id FROM adc ORDER BY adc ASC, vec_id LIMIT 40),
        |ex AS (SELECT e.vec_id,
        |  list_reduce(list_transform(range(1, len(e.v) + 1),
        |    j -> (e.v[j] - qv[j]) * (e.v[j] - qv[j])), (x, y) -> x + y) AS dist
        |  FROM e JOIN sl ON sl.vec_id = e.vec_id CROSS JOIN q)
        |SELECT vec_id, round(dist, 6) AS dist
        |FROM ex ORDER BY dist ASC, vec_id LIMIT 10""".stripMargin),

    // Per-list occupancy of the persisted IVF-PQ index — the HOT-LIST
    // detector (feeds knnGraph's maxListSize and the "raise nLists?"
    // maintenance decision). Pure partition metadata: the oracle
    // recomputes the coarse assignment and groups by winning centroid.
    // coarse assignment recomputed from scratch, grouped by winning
    // centroid — must equal the index's parquet partition occupancy
    QuerySpec("q129_ivfpq_list_stats", (s, dir) => {
      import graft.operators.Similarity
      val emb = t(s, dir, "embeddings")
      val idx = scratchDir("graft_pqlstats").resolve("idx").toString
      Similarity.writeIvfPqIndex(emb, "vec_id", "embedding", idx,
        nLists = 16, m = 8, nCodes = 16)
      Similarity.ivfPqListStats(s, idx)
    },
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |don AS (SELECT vec_id AS did, v AS dv FROM e
        |  ORDER BY ((((vec_id % 2147483648) + 2147483648) % 2147483648) * 2654435761) % 4294967296, vec_id LIMIT 16),
        |fulld AS (SELECT e.vec_id, d.did,
        |  list_reduce(list_transform(range(1, len(e.v) + 1),
        |    j -> (e.v[j] - d.dv[j]) * (e.v[j] - d.dv[j])), (x, y) -> x + y) AS dd
        |  FROM e CROSS JOIN don d),
        |asg AS (SELECT vec_id, did AS lst FROM fulld
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dd, did) = 1)
        |SELECT lst AS ivf_list, count(*) AS n FROM asg GROUP BY 1""".stripMargin),

    // q116's kNN graph with the hot-list cap BINDING (maxListSize=20 <
    // the ~31-vector average list): candidate visibility inside an
    // oversized list drops to its 20 smallest-Knuth-id-hash members —
    // the deterministic, SQL-reproducible sampler — while every vector
    // still probes its lists and keeps k neighbors. The oracle replays
    // the cap as a per-list QUALIFY on the same hash, proving the
    // bounded-recall trade is exactly specified, not approximate.
    // q116's oracle with ONE new CTE: the candidate side of each coarse
    // list keeps only its 20 smallest-Knuth-id-hash members (the cap's
    // exact sampler), so the capped kNN graph is reproduced edge-for-edge.
    QuerySpec("q130_knn_graph_capped", (s, dir) => {
      import graft.operators.Similarity
      Similarity.knnGraph(t(s, dir, "embeddings"), "vec_id", "embedding",
          k = 3, nLists = 16, nProbe = 4, maxListSize = 20)
        .select(col("id1"), col("id2"), round(col("cos"), 4).as("cos"))
    },
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |don AS (SELECT vec_id AS did, v AS dv FROM e
        |  ORDER BY ((((vec_id % 2147483648) + 2147483648) % 2147483648) * 2654435761) % 4294967296, vec_id LIMIT 16),
        |dist AS (SELECT e.vec_id, d.did,
        |  list_reduce(list_transform(range(1, len(e.v) + 1),
        |    j -> (e.v[j] - d.dv[j]) * (e.v[j] - d.dv[j])), (x, y) -> x + y) AS dd
        |  FROM e CROSS JOIN don d),
        |asg AS (SELECT vec_id, did AS lst FROM dist
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dd, did) = 1),
        |capped AS (SELECT vec_id, lst FROM asg
        |  QUALIFY row_number() OVER (PARTITION BY lst
        |    ORDER BY ((((vec_id % 2147483648) + 2147483648) % 2147483648) * 2654435761) % 4294967296, vec_id) <= 20),
        |pl AS (SELECT vec_id, did AS lst FROM dist
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dd, did) <= 4),
        |cand AS (SELECT p.vec_id AS id1, a.vec_id AS id2
        |  FROM pl p JOIN capped a ON a.lst = p.lst WHERE a.vec_id <> p.vec_id),
        |cs AS (SELECT c.id1, c.id2,
        |  list_reduce(list_transform(range(1, len(a.v) + 1),
        |    j -> a.v[j] * b.v[j]), (x, y) -> x + y) AS dp,
        |  list_reduce(list_transform(range(1, len(a.v) + 1),
        |    j -> a.v[j] * a.v[j]), (x, y) -> x + y) AS na,
        |  list_reduce(list_transform(range(1, len(b.v) + 1),
        |    j -> b.v[j] * b.v[j]), (x, y) -> x + y) AS nb
        |  FROM cand c JOIN e a ON a.vec_id = c.id1 JOIN e b ON b.vec_id = c.id2)
        |SELECT id1, id2, round(dp / (sqrt(na) * sqrt(nb)), 4) AS cos FROM cs
        |QUALIFY row_number() OVER (PARTITION BY id1
        |  ORDER BY dp / (sqrt(na) * sqrt(nb)) DESC, id2) <= 3""".stripMargin),

    // kNN GRAPH over the embedding corpus: IVF-restricted candidate
    // generation (list-keyed join, never all-pairs), per-vector top-3 by
    // cosine. Centroids are the SQL-reproducible hash donors, so the
    // whole graph — probe lists, assignments, edges — has a full oracle.
    // IVF-restricted kNN graph: hash-donor centroids (as q106), each
    // vector probes its 4 nearest lists and meets the vectors ASSIGNED
    // there; exact cosine per surviving pair; top-3 per id1.
    QuerySpec("q116_knn_graph", (s, dir) => {
      import graft.operators.Similarity
      Similarity.knnGraph(t(s, dir, "embeddings"), "vec_id", "embedding",
          k = 3, nLists = 16, nProbe = 4)
        .select(col("id1"), col("id2"), round(col("cos"), 4).as("cos"))
    },
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |don AS (SELECT vec_id AS did, v AS dv FROM e
        |  ORDER BY ((((vec_id % 2147483648) + 2147483648) % 2147483648) * 2654435761) % 4294967296, vec_id LIMIT 16),
        |dist AS (SELECT e.vec_id, d.did,
        |  list_reduce(list_transform(range(1, len(e.v) + 1),
        |    j -> (e.v[j] - d.dv[j]) * (e.v[j] - d.dv[j])), (x, y) -> x + y) AS dd
        |  FROM e CROSS JOIN don d),
        |asg AS (SELECT vec_id, did AS lst FROM dist
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dd, did) = 1),
        |pl AS (SELECT vec_id, did AS lst FROM dist
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dd, did) <= 4),
        |cand AS (SELECT p.vec_id AS id1, a.vec_id AS id2
        |  FROM pl p JOIN asg a ON a.lst = p.lst WHERE a.vec_id <> p.vec_id),
        |cs AS (SELECT c.id1, c.id2,
        |  list_reduce(list_transform(range(1, len(a.v) + 1),
        |    j -> a.v[j] * b.v[j]), (x, y) -> x + y) AS dp,
        |  list_reduce(list_transform(range(1, len(a.v) + 1),
        |    j -> a.v[j] * a.v[j]), (x, y) -> x + y) AS na,
        |  list_reduce(list_transform(range(1, len(b.v) + 1),
        |    j -> b.v[j] * b.v[j]), (x, y) -> x + y) AS nb
        |  FROM cand c JOIN e a ON a.vec_id = c.id1 JOIN e b ON b.vec_id = c.id2)
        |SELECT id1, id2, round(dp / (sqrt(na) * sqrt(nb)), 4) AS cos FROM cs
        |QUALIFY row_number() OVER (PARTITION BY id1
        |  ORDER BY dp / (sqrt(na) * sqrt(nb)) DESC, id2) <= 3""".stripMargin),

    // BATCHED indexed hybrid retrieval — the full serving stack under a
    // query BATCH: batched BM25 (q122 machinery) ⊕ batched ADC probes
    // (q119 machinery), fused per query by RRF; every window partitions
    // by query. Neither leg touches the raw corpus at query time.
    // q122's BM25 CTEs ⊕ q119's ADC CTEs, per-query ranks, RRF per
    // query. ADC ranks on the ROUNDED distance (as q109's oracle does).
    QuerySpec("q123_hybrid_batch", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      import graft.operators.{Similarity, TextIndex}
      val tix = scratchDir("graft_hbt").resolve("idx").toString
      TextIndex.write(t(s, dir, "documents"), "doc_id", "text", tix,
        nBuckets = 16)
      val bm = TextIndex.searchBatch(s, tix, Seq(
          0L -> Seq("spark", "query", "join"), 1L -> Seq("data", "table")),
          k = 1000000)
        .select(col("query_id"), col("doc_id"),
          round(col("bm25"), 6).as("score"))
      val wT = Window.partitionBy(col("query_id"))
        .orderBy(col("score").desc, col("doc_id").asc)
      val textRun = bm.withColumn("r", row_number().over(wT))
        .filter(col("r") <= 50).select(col("query_id"), col("doc_id"), col("r"))
      val emb = t(s, dir, "embeddings")
      val pq = scratchDir("graft_hbp").resolve("idx").toString
      Similarity.writeIvfPqIndex(emb, "vec_id", "embedding", pq,
        nLists = 16, m = 8, nCodes = 16)
      val qs = emb.filter(col("vec_id").isin(0L, 1L))
        .select(col("vec_id").as("query_id"), col("embedding"))
      val ann = Similarity.ivfPqTopKIndexedBatch(s, pq, "vec_id", qs,
          "query_id", "embedding", k = 50, nProbe = 4)
        .select(col("query_id"), col("vec_id").as("doc_id"),
          round(col("adc"), 6).as("adc"))
      val wA = Window.partitionBy(col("query_id"))
        .orderBy(col("adc").asc, col("doc_id").asc)
      val vecRun = ann.withColumn("r", row_number().over(wA))
        .select(col("query_id"), col("doc_id"), col("r"))
      val wF = Window.partitionBy(col("query_id"))
        .orderBy(col("__raw").desc, col("doc_id").asc)
      textRun.unionByName(vecRun)
        .groupBy(col("query_id"), col("doc_id"))
        .agg(sum(lit(1.0) / (col("r") + lit(60))).as("__raw"),
          count(lit(1)).as("n_systems"))
        .withColumn("__fr", row_number().over(wF))
        .filter(col("__fr") <= 20)
        .select(col("query_id"), col("doc_id"),
          round(col("__raw"), 6).as("rrf"), col("n_systems"))
    },
      """WITH base AS (
        |  SELECT doc_id, trim(lower(text)) AS lt FROM documents
        |  WHERE text IS NOT NULL),
        |dls AS (SELECT doc_id, lt,
        |  CASE WHEN lt = '' THEN 0
        |       ELSE len(regexp_split_to_array(lt, '\s+')) END AS dl
        |  FROM base),
        |stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dls),
        |toks AS (SELECT doc_id, dl,
        |  unnest(regexp_split_to_array(lt, '\s+')) AS term FROM dls),
        |tq AS (SELECT CAST(t.query_id AS BIGINT) AS query_id, t.term
        |  FROM (VALUES (0, 'spark'), (0, 'query'), (0, 'join'),
        |    (1, 'data'), (1, 'table')) AS t(query_id, term)),
        |hits AS (SELECT doc_id, dl, term, count(*) AS tf FROM toks
        |  WHERE term IN (SELECT term FROM tq) GROUP BY 1, 2, 3),
        |dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM hits GROUP BY 1),
        |bmq AS (SELECT q.query_id, h.doc_id,
        |  round(sum(ln((n - df + 0.5) / (df + 0.5) + 1.0) * tf * (1.2 + 1) /
        |    (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))), 6) AS score
        |  FROM hits h JOIN tq q USING (term) CROSS JOIN stats
        |  JOIN dfreq USING (term) GROUP BY 1, 2),
        |bmtop AS (SELECT query_id, doc_id, row_number() OVER (
        |    PARTITION BY query_id ORDER BY score DESC, doc_id) AS r
        |  FROM bmq QUALIFY row_number() OVER (
        |    PARTITION BY query_id ORDER BY score DESC, doc_id) <= 50),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |don AS (SELECT vec_id AS did, v AS dv FROM e
        |  ORDER BY ((((vec_id % 2147483648) + 2147483648) % 2147483648) * 2654435761) % 4294967296, vec_id LIMIT 16),
        |vq AS (SELECT vec_id AS query_id, v AS qv FROM e
        |  WHERE vec_id IN (0, 1)),
        |fulld AS (SELECT e.vec_id, d.did,
        |  list_reduce(list_transform(range(1, len(e.v) + 1),
        |    j -> (e.v[j] - d.dv[j]) * (e.v[j] - d.dv[j])), (x, y) -> x + y) AS dd
        |  FROM e CROSS JOIN don d),
        |asg AS (SELECT vec_id, did AS lst FROM fulld
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dd, did) = 1),
        |pl AS (SELECT q.query_id, d.did AS lst FROM don d CROSS JOIN vq q
        |  QUALIFY row_number() OVER (PARTITION BY q.query_id
        |    ORDER BY list_reduce(list_transform(range(1, len(d.dv) + 1),
        |      j -> (d.dv[j] - q.qv[j]) * (d.dv[j] - q.qv[j])), (x, y) -> x + y),
        |      d.did) <= 4),
        |cand AS (SELECT p.query_id, a.vec_id FROM pl p JOIN asg a ON a.lst = p.lst),
        |sd AS (SELECT e.vec_id, t.j, d.did,
        |  list_reduce(list_transform(range(1, 9), i ->
        |    (e.v[t.j * 8 + i] - d.dv[t.j * 8 + i]) *
        |    (e.v[t.j * 8 + i] - d.dv[t.j * 8 + i])), (x, y) -> x + y) AS s
        |  FROM e CROSS JOIN range(8) t(j) CROSS JOIN don d),
        |codes AS (SELECT vec_id, j, did AS code FROM sd
        |  QUALIFY row_number() OVER (PARTITION BY vec_id, j
        |    ORDER BY s ASC, did ASC) = 1),
        |qtv AS (SELECT q.query_id, t.j, d.did,
        |  list_reduce(list_transform(range(1, 9), i ->
        |    (q.qv[t.j * 8 + i] - d.dv[t.j * 8 + i]) *
        |    (q.qv[t.j * 8 + i] - d.dv[t.j * 8 + i])), (x, y) -> x + y) AS s
        |  FROM vq q CROSS JOIN range(8) t(j) CROSS JOIN don d),
        |adc AS (SELECT c.query_id, co.vec_id, sum(q2.s) AS a0
        |  FROM codes co JOIN cand c ON c.vec_id = co.vec_id
        |  JOIN qtv q2 ON q2.query_id = c.query_id AND q2.j = co.j
        |    AND q2.did = co.code
        |  GROUP BY 1, 2),
        |atop AS (SELECT query_id, vec_id AS doc_id, row_number() OVER (
        |    PARTITION BY query_id ORDER BY round(a0, 6) ASC, vec_id) AS r
        |  FROM adc QUALIFY row_number() OVER (
        |    PARTITION BY query_id ORDER BY round(a0, 6) ASC, vec_id) <= 50),
        |u AS (SELECT query_id, doc_id, r FROM bmtop
        |  UNION ALL SELECT query_id, doc_id, r FROM atop),
        |f AS (SELECT query_id, doc_id, sum(1.0::DOUBLE / (60 + r)) AS raw,
        |  count(*) AS n_systems FROM u GROUP BY 1, 2)
        |SELECT query_id, doc_id, round(raw, 6) AS rrf, n_systems FROM f
        |QUALIFY row_number() OVER (PARTITION BY query_id
        |  ORDER BY raw DESC, doc_id) <= 20""".stripMargin),

    // BATCHED BM25 probe (the text-index mirror of q119): three term-set
    // queries in one scan pruned to the union of their term buckets;
    // per-term scores fan out through a broadcast (query, term)
    // relation. k covers all matches so no rank-boundary float issues.
    // q75's BM25 arithmetic over a (query, term) VALUES relation; df per
    // term over the union of all query terms (query-independent, as the
    // index computes it); no top-k cut (k covers all matches).
    QuerySpec("q122_bm25_batch", (s, dir) => {
      import graft.operators.TextIndex
      val path = scratchDir("graft_tixb").resolve("idx").toString
      TextIndex.write(t(s, dir, "documents"), "doc_id", "text", path,
        nBuckets = 16)
      TextIndex.searchBatch(s, path, Seq(
          0L -> Seq("spark", "query", "join"),
          1L -> Seq("data", "table"),
          2L -> Seq("the")), k = 1000000)
        .select(col("query_id"), col("doc_id"),
          round(col("bm25"), 6).as("bm25"), col("n_terms"))
    },
      """WITH base AS (
        |  SELECT doc_id, trim(lower(text)) AS lt FROM documents
        |  WHERE text IS NOT NULL),
        |dls AS (SELECT doc_id, lt,
        |  CASE WHEN lt = '' THEN 0
        |       ELSE len(regexp_split_to_array(lt, '\s+')) END AS dl
        |  FROM base),
        |stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dls),
        |toks AS (SELECT doc_id, dl,
        |  unnest(regexp_split_to_array(lt, '\s+')) AS term FROM dls),
        |qt AS (SELECT CAST(t.query_id AS BIGINT) AS query_id, t.term
        |  FROM (VALUES (0, 'spark'), (0, 'query'), (0, 'join'),
        |    (1, 'data'), (1, 'table'), (2, 'the')) AS t(query_id, term)),
        |hits AS (SELECT doc_id, dl, term, count(*) AS tf FROM toks
        |  WHERE term IN (SELECT term FROM qt) GROUP BY 1, 2, 3),
        |dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM hits GROUP BY 1)
        |SELECT q.query_id, h.doc_id,
        |  round(sum(ln((n - df + 0.5) / (df + 0.5) + 1.0) * tf * (1.2 + 1) /
        |    (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))), 6) AS bm25,
        |  count(*) AS n_terms
        |FROM hits h JOIN qt q USING (term) CROSS JOIN stats
        |JOIN dfreq USING (term)
        |GROUP BY 1, 2""".stripMargin),

    // Balanced-PQ (OPQ-lite): dims dealt to subspaces by descending
    // RANGE (max − min: order-independent, so the permutation is
    // bit-exact cross-engine), then the standard PQ donor/code/ADC
    // machinery over the permuted vectors.
    // Per-dim ranges → rank-ordered permutation (ties on dim index) →
    // permuted vectors as ordered lists → q104's donor/code/ADC plan.
    QuerySpec("q121_pq_balanced", (s, dir) => {
      import graft.operators.Similarity
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>")).head()
        .getSeq[Double](0)
      Similarity.pqTopKBalanced(emb, "vec_id", "embedding", q, k = 10,
          m = 8, nCodes = 16)
        .select(col("vec_id"), round(col("adc"), 6).as("adc"))
    },
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |dims AS (SELECT t.j AS dim, max(e.v[t.j]) - min(e.v[t.j]) AS rg
        |  FROM e CROSS JOIN range(1, 65) t(j) GROUP BY t.j),
        |perm AS (SELECT dim, ((r0 % 8) * 8 + r0 // 8) AS pos FROM (
        |  SELECT dim, row_number() OVER (ORDER BY rg DESC, dim ASC) - 1 AS r0
        |  FROM dims)),
        |pv AS (SELECT e.vec_id, list(e.v[p.dim] ORDER BY p.pos) AS v
        |  FROM e CROSS JOIN perm p GROUP BY e.vec_id),
        |don AS (SELECT p2.vec_id AS did, p2.v AS dv FROM pv p2
        |  ORDER BY ((((p2.vec_id % 2147483648) + 2147483648) % 2147483648) * 2654435761) % 4294967296, p2.vec_id LIMIT 16),
        |sd AS (SELECT p2.vec_id, t.j, d.did,
        |  list_reduce(list_transform(range(1, 9), i ->
        |    (p2.v[t.j * 8 + i] - d.dv[t.j * 8 + i]) *
        |    (p2.v[t.j * 8 + i] - d.dv[t.j * 8 + i])), (x, y) -> x + y) AS s
        |  FROM pv p2 CROSS JOIN range(8) t(j) CROSS JOIN don d),
        |codes AS (SELECT vec_id, j, did AS code FROM sd
        |  QUALIFY row_number() OVER (PARTITION BY vec_id, j
        |    ORDER BY s ASC, did ASC) = 1),
        |qt AS (SELECT j, did, s FROM sd WHERE vec_id = 0),
        |adc AS (SELECT c.vec_id, sum(q2.s) AS adc FROM codes c
        |  JOIN qt q2 ON q2.j = c.j AND q2.did = c.code GROUP BY c.vec_id)
        |SELECT vec_id, round(adc, 6) AS adc
        |FROM adc ORDER BY adc ASC, vec_id LIMIT 10""".stripMargin),

    // SemDeDup (cluster-granularity semantic dedup): q117's clusters,
    // each keeping its smallest member id — prunes paraphrase-level
    // redundancy whole-document MinHash misses. Oracle = q117's CC CTE
    // + a per-cluster QUALIFY cut.
    // q117's clustering with a per-cluster keep-1 cut (smallest id).
    QuerySpec("q120_semdedup", (s, dir) => {
      import graft.operators.Similarity
      Similarity.semDedup(t(s, dir, "embeddings"), "vec_id", "embedding",
        k = 3, minCos = 0.42, keepPerCluster = 1, nLists = 16, nProbe = 4)
    },
      """WITH RECURSIVE e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |don AS (SELECT vec_id AS did, v AS dv FROM e
        |  ORDER BY ((((vec_id % 2147483648) + 2147483648) % 2147483648) * 2654435761) % 4294967296, vec_id LIMIT 16),
        |dist AS (SELECT e.vec_id, d.did,
        |  list_reduce(list_transform(range(1, len(e.v) + 1),
        |    j -> (e.v[j] - d.dv[j]) * (e.v[j] - d.dv[j])), (x, y) -> x + y) AS dd
        |  FROM e CROSS JOIN don d),
        |asg AS (SELECT vec_id, did AS lst FROM dist
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dd, did) = 1),
        |pl AS (SELECT vec_id, did AS lst FROM dist
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dd, did) <= 4),
        |cand AS (SELECT p.vec_id AS id1, a.vec_id AS id2
        |  FROM pl p JOIN asg a ON a.lst = p.lst WHERE a.vec_id <> p.vec_id),
        |cs AS (SELECT c.id1, c.id2,
        |  list_reduce(list_transform(range(1, len(a.v) + 1),
        |    j -> a.v[j] * b.v[j]), (x, y) -> x + y) AS dp,
        |  list_reduce(list_transform(range(1, len(a.v) + 1),
        |    j -> a.v[j] * a.v[j]), (x, y) -> x + y) AS na,
        |  list_reduce(list_transform(range(1, len(b.v) + 1),
        |    j -> b.v[j] * b.v[j]), (x, y) -> x + y) AS nb
        |  FROM cand c JOIN e a ON a.vec_id = c.id1 JOIN e b ON b.vec_id = c.id2),
        |knn AS (SELECT id1, id2, dp / (sqrt(na) * sqrt(nb)) AS cos FROM cs
        |  QUALIFY row_number() OVER (PARTITION BY id1
        |    ORDER BY dp / (sqrt(na) * sqrt(nb)) DESC, id2) <= 3),
        |edg AS (SELECT id1, id2 FROM knn WHERE cos >= 0.42),
        |und AS (SELECT id1, id2 FROM edg UNION ALL SELECT id2, id1 FROM edg),
        |nodes AS (SELECT DISTINCT id1 AS id FROM und),
        |reach(id, lab) AS (
        |  SELECT id, id FROM nodes
        |  UNION
        |  SELECT u.id2, r.lab FROM reach r JOIN und u ON u.id1 = r.id),
        |compp AS (SELECT id, min(lab) AS comp FROM reach GROUP BY id),
        |lab AS (SELECT e.vec_id, coalesce(c2.comp, e.vec_id) AS cluster
        |  FROM e LEFT JOIN compp c2 ON c2.id = e.vec_id)
        |SELECT vec_id, cluster FROM lab
        |QUALIFY row_number() OVER (PARTITION BY cluster
        |  ORDER BY vec_id ASC) <= 1""".stripMargin),

    // SemDeDup KEEP-BEST (the published recipe keeps by score, not
    // smallest id): q120's clusters, each keeping its highest-QUALITY
    // member — quality here a deterministic derived score (vec_id % 7)
    // so the oracle reproduces it and survivorship demonstrably flips
    // vs q120 wherever a cluster's min-id member is not its best.
    // q120's clustering, keep-cut by DESCENDING quality (vec_id % 7)
    // with the id tie-break — the keep-best SemDeDup policy.
    QuerySpec("q125_semdedup_keepbest", (s, dir) => {
      import graft.operators.Similarity
      val vecs = t(s, dir, "embeddings")
        .withColumn("quality", pmod(col("vec_id"), lit(7)).cast("double"))
      Similarity.semDedup(vecs, "vec_id", "embedding",
        k = 3, minCos = 0.42, keepPerCluster = 1, nLists = 16, nProbe = 4,
        keepByCol = Some("quality"))
    },
      """WITH RECURSIVE e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |don AS (SELECT vec_id AS did, v AS dv FROM e
        |  ORDER BY ((((vec_id % 2147483648) + 2147483648) % 2147483648) * 2654435761) % 4294967296, vec_id LIMIT 16),
        |dist AS (SELECT e.vec_id, d.did,
        |  list_reduce(list_transform(range(1, len(e.v) + 1),
        |    j -> (e.v[j] - d.dv[j]) * (e.v[j] - d.dv[j])), (x, y) -> x + y) AS dd
        |  FROM e CROSS JOIN don d),
        |asg AS (SELECT vec_id, did AS lst FROM dist
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dd, did) = 1),
        |pl AS (SELECT vec_id, did AS lst FROM dist
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dd, did) <= 4),
        |cand AS (SELECT p.vec_id AS id1, a.vec_id AS id2
        |  FROM pl p JOIN asg a ON a.lst = p.lst WHERE a.vec_id <> p.vec_id),
        |cs AS (SELECT c.id1, c.id2,
        |  list_reduce(list_transform(range(1, len(a.v) + 1),
        |    j -> a.v[j] * b.v[j]), (x, y) -> x + y) AS dp,
        |  list_reduce(list_transform(range(1, len(a.v) + 1),
        |    j -> a.v[j] * a.v[j]), (x, y) -> x + y) AS na,
        |  list_reduce(list_transform(range(1, len(b.v) + 1),
        |    j -> b.v[j] * b.v[j]), (x, y) -> x + y) AS nb
        |  FROM cand c JOIN e a ON a.vec_id = c.id1 JOIN e b ON b.vec_id = c.id2),
        |knn AS (SELECT id1, id2, dp / (sqrt(na) * sqrt(nb)) AS cos FROM cs
        |  QUALIFY row_number() OVER (PARTITION BY id1
        |    ORDER BY dp / (sqrt(na) * sqrt(nb)) DESC, id2) <= 3),
        |edg AS (SELECT id1, id2 FROM knn WHERE cos >= 0.42),
        |und AS (SELECT id1, id2 FROM edg UNION ALL SELECT id2, id1 FROM edg),
        |nodes AS (SELECT DISTINCT id1 AS id FROM und),
        |reach(id, lab) AS (
        |  SELECT id, id FROM nodes
        |  UNION
        |  SELECT u.id2, r.lab FROM reach r JOIN und u ON u.id1 = r.id),
        |compp AS (SELECT id, min(lab) AS comp FROM reach GROUP BY id),
        |lab AS (SELECT e.vec_id, coalesce(c2.comp, e.vec_id) AS cluster
        |  FROM e LEFT JOIN compp c2 ON c2.id = e.vec_id)
        |SELECT vec_id, cluster FROM lab
        |QUALIFY row_number() OVER (PARTITION BY cluster
        |  ORDER BY (vec_id % 7) DESC, vec_id ASC) <= 1""".stripMargin),

    // SemDeDup with the keep score DERIVED in-engine (the published
    // centroid-distance policy): q120's clusters, centroid = the
    // cluster's own mean embedding, keep the lowest-cos member. Only
    // (vec_id, cluster) ints surface, so the cross-engine double noise
    // in the mean/cosine never reaches the hash compare — the rank
    // decision itself is the thing being verified.
    // q117's cluster labels + per-(cluster, dim) mean centroid + cosine
    // to it; the survivor is the per-cluster MIN cos (id tie-break).
    QuerySpec("q131_semdedup_centroid", (s, dir) => {
      import graft.operators.Similarity
      Similarity.semDedupByCentroid(t(s, dir, "embeddings"), "vec_id",
        "embedding", k = 3, minCos = 0.42, keepPerCluster = 1,
        nLists = 16, nProbe = 4)
    },
      """WITH RECURSIVE e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |don AS (SELECT vec_id AS did, v AS dv FROM e
        |  ORDER BY ((((vec_id % 2147483648) + 2147483648) % 2147483648) * 2654435761) % 4294967296, vec_id LIMIT 16),
        |dist AS (SELECT e.vec_id, d.did,
        |  list_reduce(list_transform(range(1, len(e.v) + 1),
        |    j -> (e.v[j] - d.dv[j]) * (e.v[j] - d.dv[j])), (x, y) -> x + y) AS dd
        |  FROM e CROSS JOIN don d),
        |asg AS (SELECT vec_id, did AS lst FROM dist
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dd, did) = 1),
        |pl AS (SELECT vec_id, did AS lst FROM dist
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dd, did) <= 4),
        |cand AS (SELECT p.vec_id AS id1, a.vec_id AS id2
        |  FROM pl p JOIN asg a ON a.lst = p.lst WHERE a.vec_id <> p.vec_id),
        |cs AS (SELECT c.id1, c.id2,
        |  list_reduce(list_transform(range(1, len(a.v) + 1),
        |    j -> a.v[j] * b.v[j]), (x, y) -> x + y) AS dp,
        |  list_reduce(list_transform(range(1, len(a.v) + 1),
        |    j -> a.v[j] * a.v[j]), (x, y) -> x + y) AS na,
        |  list_reduce(list_transform(range(1, len(b.v) + 1),
        |    j -> b.v[j] * b.v[j]), (x, y) -> x + y) AS nb
        |  FROM cand c JOIN e a ON a.vec_id = c.id1 JOIN e b ON b.vec_id = c.id2),
        |knn AS (SELECT id1, id2, dp / (sqrt(na) * sqrt(nb)) AS cos FROM cs
        |  QUALIFY row_number() OVER (PARTITION BY id1
        |    ORDER BY dp / (sqrt(na) * sqrt(nb)) DESC, id2) <= 3),
        |edg AS (SELECT id1, id2 FROM knn WHERE cos >= 0.42),
        |und AS (SELECT id1, id2 FROM edg UNION ALL SELECT id2, id1 FROM edg),
        |nodes AS (SELECT DISTINCT id1 AS id FROM und),
        |reach(id, lab) AS (
        |  SELECT id, id FROM nodes
        |  UNION
        |  SELECT u.id2, r.lab FROM reach r JOIN und u ON u.id1 = r.id),
        |compp AS (SELECT id, min(lab) AS comp FROM reach GROUP BY id),
        |lab2 AS (SELECT e.vec_id, coalesce(c2.comp, e.vec_id) AS cluster, e.v
        |  FROM e LEFT JOIN compp c2 ON c2.id = e.vec_id),
        |cent AS (SELECT cluster, t.j, avg(v[t.j]) AS m
        |  FROM lab2 CROSS JOIN range(1, 65) t(j) GROUP BY cluster, t.j),
        |sc AS (SELECT l.vec_id, l.cluster,
        |  sum(l.v[c.j] * c.m) AS dp, sum(c.m * c.m) AS nc
        |  FROM lab2 l JOIN cent c ON c.cluster = l.cluster
        |  GROUP BY l.vec_id, l.cluster),
        |nv AS (SELECT vec_id,
        |  list_reduce(list_transform(range(1, len(v) + 1),
        |    j -> v[j] * v[j]), (x, y) -> x + y) AS na FROM e)
        |SELECT s2.vec_id, s2.cluster FROM sc s2 JOIN nv ON nv.vec_id = s2.vec_id
        |QUALIFY row_number() OVER (PARTITION BY s2.cluster
        |  ORDER BY s2.dp / (sqrt(nv.na) * sqrt(s2.nc)) ASC, s2.vec_id) = 1""".stripMargin),

    // LEAKAGE-SAFE train/val split: q117's clusters, split decided per
    // CLUSTER through the engine-wide Knuth hash — a validation doc can
    // never have a near-dup in train. Deterministic, seedless,
    // re-runnable; the oracle replays the hash on the cluster label.
    // q117's cluster labels + the Knuth hash on the LABEL deciding the
    // split — near-dups share a cluster, so they share a split.
    QuerySpec("q132_leakage_split", (s, dir) => {
      import graft.operators.Similarity
      Similarity.leakageSafeSplit(t(s, dir, "embeddings"), "vec_id",
        "embedding", k = 3, minCos = 0.42, valPermille = 200,
        nLists = 16, nProbe = 4)
    },
      """WITH RECURSIVE e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |don AS (SELECT vec_id AS did, v AS dv FROM e
        |  ORDER BY ((((vec_id % 2147483648) + 2147483648) % 2147483648) * 2654435761) % 4294967296, vec_id LIMIT 16),
        |dist AS (SELECT e.vec_id, d.did,
        |  list_reduce(list_transform(range(1, len(e.v) + 1),
        |    j -> (e.v[j] - d.dv[j]) * (e.v[j] - d.dv[j])), (x, y) -> x + y) AS dd
        |  FROM e CROSS JOIN don d),
        |asg AS (SELECT vec_id, did AS lst FROM dist
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dd, did) = 1),
        |pl AS (SELECT vec_id, did AS lst FROM dist
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dd, did) <= 4),
        |cand AS (SELECT p.vec_id AS id1, a.vec_id AS id2
        |  FROM pl p JOIN asg a ON a.lst = p.lst WHERE a.vec_id <> p.vec_id),
        |cs AS (SELECT c.id1, c.id2,
        |  list_reduce(list_transform(range(1, len(a.v) + 1),
        |    j -> a.v[j] * b.v[j]), (x, y) -> x + y) AS dp,
        |  list_reduce(list_transform(range(1, len(a.v) + 1),
        |    j -> a.v[j] * a.v[j]), (x, y) -> x + y) AS na,
        |  list_reduce(list_transform(range(1, len(b.v) + 1),
        |    j -> b.v[j] * b.v[j]), (x, y) -> x + y) AS nb
        |  FROM cand c JOIN e a ON a.vec_id = c.id1 JOIN e b ON b.vec_id = c.id2),
        |knn AS (SELECT id1, id2, dp / (sqrt(na) * sqrt(nb)) AS cos FROM cs
        |  QUALIFY row_number() OVER (PARTITION BY id1
        |    ORDER BY dp / (sqrt(na) * sqrt(nb)) DESC, id2) <= 3),
        |edg AS (SELECT id1, id2 FROM knn WHERE cos >= 0.42),
        |und AS (SELECT id1, id2 FROM edg UNION ALL SELECT id2, id1 FROM edg),
        |nodes AS (SELECT DISTINCT id1 AS id FROM und),
        |reach(id, lab) AS (
        |  SELECT id, id FROM nodes
        |  UNION
        |  SELECT u.id2, r.lab FROM reach r JOIN und u ON u.id1 = r.id),
        |compp AS (SELECT id, min(lab) AS comp FROM reach GROUP BY id)
        |SELECT e.vec_id, coalesce(c2.comp, e.vec_id) AS cluster,
        |  CASE WHEN ((((coalesce(c2.comp, e.vec_id) % 2147483648)
        |      + 2147483648) % 2147483648) * 2654435761) % 4294967296
        |      % 1000 < 200
        |    THEN 'val' ELSE 'train' END AS split
        |FROM e LEFT JOIN compp c2 ON c2.id = e.vec_id""".stripMargin),

    // Label-stable refresh: run 1 splits a SUBSET corpus (vec_id % 7 ≠ 0
    // pretends one seventh of the documents arrived later); run 2 splits
    // the FULL corpus with run 1's (id, label) as prior — clusters whose
    // returning members carry a smaller id keep their prior side instead
    // of flipping. The oracle replays BOTH runs (two full kNN+CC
    // recursive-CTE chains) plus the min-prior adoption and the hash on
    // the adopted label.
    // Two full kNN+CC chains (suffix 1 = the vec_id % 7 <> 0 subset that
    // produces the prior labels, suffix 2 = the full corpus), then the
    // min-prior adoption per fresh cluster and the Knuth hash on the
    // ADOPTED label — the exact recipe of leakageSafeSplitStable.
    QuerySpec("q136_leakage_split_stable", (s, dir) => {
      import graft.operators.Similarity
      val emb = t(s, dir, "embeddings")
      val prior = Similarity.leakageSafeSplit(
          emb.filter(col("vec_id") % 7 =!= 0), "vec_id", "embedding",
          k = 3, minCos = 0.42, valPermille = 200, nLists = 16, nProbe = 4)
        .select(col("vec_id"), col("cluster").as("label"))
      Similarity.leakageSafeSplitStable(emb, "vec_id", "embedding",
        k = 3, minCos = 0.42, valPermille = 200, prior,
        nLists = 16, nProbe = 4)
    },
      """WITH RECURSIVE
        |e1 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE embedding IS NOT NULL AND vec_id % 7 <> 0),
        |don1 AS (SELECT vec_id AS did, v AS dv FROM e1
        |  ORDER BY ((((vec_id % 2147483648) + 2147483648) % 2147483648) * 2654435761) % 4294967296, vec_id LIMIT 16),
        |dist1 AS (SELECT e1.vec_id, d.did,
        |  list_reduce(list_transform(range(1, len(e1.v) + 1),
        |    j -> (e1.v[j] - d.dv[j]) * (e1.v[j] - d.dv[j])), (x, y) -> x + y) AS dd
        |  FROM e1 CROSS JOIN don1 d),
        |asg1 AS (SELECT vec_id, did AS lst FROM dist1
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dd, did) = 1),
        |pl1 AS (SELECT vec_id, did AS lst FROM dist1
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dd, did) <= 4),
        |cand1 AS (SELECT p.vec_id AS id1, a.vec_id AS id2
        |  FROM pl1 p JOIN asg1 a ON a.lst = p.lst WHERE a.vec_id <> p.vec_id),
        |cs1 AS (SELECT c.id1, c.id2,
        |  list_reduce(list_transform(range(1, len(a.v) + 1),
        |    j -> a.v[j] * b.v[j]), (x, y) -> x + y) AS dp,
        |  list_reduce(list_transform(range(1, len(a.v) + 1),
        |    j -> a.v[j] * a.v[j]), (x, y) -> x + y) AS na,
        |  list_reduce(list_transform(range(1, len(b.v) + 1),
        |    j -> b.v[j] * b.v[j]), (x, y) -> x + y) AS nb
        |  FROM cand1 c JOIN e1 a ON a.vec_id = c.id1 JOIN e1 b ON b.vec_id = c.id2),
        |knn1 AS (SELECT id1, id2, dp / (sqrt(na) * sqrt(nb)) AS cos FROM cs1
        |  QUALIFY row_number() OVER (PARTITION BY id1
        |    ORDER BY dp / (sqrt(na) * sqrt(nb)) DESC, id2) <= 3),
        |edg1 AS (SELECT id1, id2 FROM knn1 WHERE cos >= 0.42),
        |und1 AS (SELECT id1, id2 FROM edg1 UNION ALL SELECT id2, id1 FROM edg1),
        |nodes1 AS (SELECT DISTINCT id1 AS id FROM und1),
        |reach1(id, lab) AS (
        |  SELECT id, id FROM nodes1
        |  UNION
        |  SELECT u.id2, r.lab FROM reach1 r JOIN und1 u ON u.id1 = r.id),
        |comp1 AS (SELECT id, min(lab) AS comp FROM reach1 GROUP BY id),
        |prior AS (SELECT e1.vec_id, coalesce(c.comp, e1.vec_id) AS label
        |  FROM e1 LEFT JOIN comp1 c ON c.id = e1.vec_id),
        |e2 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |don2 AS (SELECT vec_id AS did, v AS dv FROM e2
        |  ORDER BY ((((vec_id % 2147483648) + 2147483648) % 2147483648) * 2654435761) % 4294967296, vec_id LIMIT 16),
        |dist2 AS (SELECT e2.vec_id, d.did,
        |  list_reduce(list_transform(range(1, len(e2.v) + 1),
        |    j -> (e2.v[j] - d.dv[j]) * (e2.v[j] - d.dv[j])), (x, y) -> x + y) AS dd
        |  FROM e2 CROSS JOIN don2 d),
        |asg2 AS (SELECT vec_id, did AS lst FROM dist2
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dd, did) = 1),
        |pl2 AS (SELECT vec_id, did AS lst FROM dist2
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dd, did) <= 4),
        |cand2 AS (SELECT p.vec_id AS id1, a.vec_id AS id2
        |  FROM pl2 p JOIN asg2 a ON a.lst = p.lst WHERE a.vec_id <> p.vec_id),
        |cs2 AS (SELECT c.id1, c.id2,
        |  list_reduce(list_transform(range(1, len(a.v) + 1),
        |    j -> a.v[j] * b.v[j]), (x, y) -> x + y) AS dp,
        |  list_reduce(list_transform(range(1, len(a.v) + 1),
        |    j -> a.v[j] * a.v[j]), (x, y) -> x + y) AS na,
        |  list_reduce(list_transform(range(1, len(b.v) + 1),
        |    j -> b.v[j] * b.v[j]), (x, y) -> x + y) AS nb
        |  FROM cand2 c JOIN e2 a ON a.vec_id = c.id1 JOIN e2 b ON b.vec_id = c.id2),
        |knn2 AS (SELECT id1, id2, dp / (sqrt(na) * sqrt(nb)) AS cos FROM cs2
        |  QUALIFY row_number() OVER (PARTITION BY id1
        |    ORDER BY dp / (sqrt(na) * sqrt(nb)) DESC, id2) <= 3),
        |edg2 AS (SELECT id1, id2 FROM knn2 WHERE cos >= 0.42),
        |und2 AS (SELECT id1, id2 FROM edg2 UNION ALL SELECT id2, id1 FROM edg2),
        |nodes2 AS (SELECT DISTINCT id1 AS id FROM und2),
        |reach2(id, lab) AS (
        |  SELECT id, id FROM nodes2
        |  UNION
        |  SELECT u.id2, r.lab FROM reach2 r JOIN und2 u ON u.id1 = r.id),
        |comp2 AS (SELECT id, min(lab) AS comp FROM reach2 GROUP BY id),
        |fresh AS (SELECT e2.vec_id, coalesce(c.comp, e2.vec_id) AS cluster
        |  FROM e2 LEFT JOIN comp2 c ON c.id = e2.vec_id),
        |adopted AS (SELECT f.cluster, min(p.label) AS adopt
        |  FROM fresh f LEFT JOIN prior p ON p.vec_id = f.vec_id
        |  GROUP BY f.cluster)
        |SELECT f.vec_id, f.cluster, coalesce(a.adopt, f.cluster) AS label,
        |  CASE WHEN ((((coalesce(a.adopt, f.cluster) % 2147483648)
        |      + 2147483648) % 2147483648) * 2654435761) % 4294967296
        |      % 1000 < 200
        |    THEN 'val' ELSE 'train' END AS split
        |FROM fresh f JOIN adopted a ON a.cluster = f.cluster""".stripMargin),

    // Diversity sampling: greedy k-center (farthest-first traversal) at
    // k=8 over the embeddings — the coreset/eval-set selector next to the
    // distribution-preserving hash samplers. The oracle unrolls all 8
    // greedy stages (seed by Knuth hash, then argmax of the running
    // min-distance with id tie-breaks), mirroring the engine's running-
    // min update term-for-term.
    // Greedy k-center unrolled: seed by the Knuth hash, then 7 identical
    // stages — running min-distance update (least + the same ascending
    // squared-L2 list_reduce the engine loop computes) and argmax with an
    // id tie-break, each stage excluding the id it just picked.
    QuerySpec("q137_kcenter_sample", (s, dir) => {
      import graft.operators.Similarity
      Similarity.kCenterSample(t(s, dir, "embeddings"), "vec_id",
          "embedding", k = 8)
        .select(col("pick"), col("vec_id"), round(col("radius"), 6).as("radius"))
    },
      {
      def dist(a: String, b: String) =
        s"list_reduce(list_transform(range(1, len($a.v) + 1), " +
          s"j -> ($a.v[j] - $b.v[j]) * ($a.v[j] - $b.v[j])), (x, y) -> x + y)"
      val stages = (2 to 7).map { i =>
        s"""d$i AS (SELECT d.vec_id, d.v, least(d.dmin, ${dist("d", "p")}) AS dmin
           |  FROM d${i - 1} d CROSS JOIN p${i - 1} p WHERE d.vec_id <> p.vec_id),
           |p$i AS (SELECT vec_id, v, dmin FROM d$i ORDER BY dmin DESC, vec_id LIMIT 1)""".stripMargin
      }.mkString(",\n")
      val tail = (1 to 7).map { i =>
        s"UNION ALL SELECT $i, vec_id, round(sqrt(dmin), 6) FROM p$i"
      }.mkString("\n")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings WHERE embedding IS NOT NULL),
         |seed AS (SELECT vec_id, v FROM e
         |  ORDER BY ((((vec_id % 2147483648) + 2147483648) % 2147483648) * 2654435761) % 4294967296, vec_id LIMIT 1),
         |d1 AS (SELECT e.vec_id, e.v, ${dist("e", "s")} AS dmin
         |  FROM e CROSS JOIN seed s WHERE e.vec_id <> s.vec_id),
         |p1 AS (SELECT vec_id, v, dmin FROM d1 ORDER BY dmin DESC, vec_id LIMIT 1),
         |$stages
         |SELECT CAST(0 AS INTEGER) AS pick, s.vec_id, 0.0::DOUBLE AS radius FROM seed s
         |$tail""".stripMargin
    }),

    // JL random projection 64 → 16 dims: the dimensionality-reduction
    // front end for ANN at high dim, sharing the rpBucket hyperplane
    // family. The oracle rebuilds the sign matrix from the LCG counter
    // and replays the ascending-i summation term-for-term.
    // JL projection: sign = bit 30 of one LCG step over the (42, j, i)
    // counter — identical to the engine's rpBucket hyperplanes; the
    // ascending-i list_reduce reproduces the summation order, and the
    // 1/sqrt(16) = 0.25 scale is exact dyadic.
    QuerySpec("q145_random_project", (s, dir) => {
      import graft.functions.VectorFns
      t(s, dir, "embeddings").filter(col("embedding").isNotNull)
        .select(col("vec_id"),
          posexplode(VectorFns.randomProject(col("embedding"), 16))
            .as(Seq("dim", "yy")))
        .select(col("vec_id"), col("dim"), round(col("yy"), 6).as("y"))
    },
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE embedding IS NOT NULL)
        |SELECT vec_id, j AS dim,
        |  round(list_reduce(list_prepend(0.0::DOUBLE,
        |    list_transform(range(1, len(v) + 1),
        |      i -> CASE WHEN (((1103515245 * (42 * 1000003 + j * 8191 +
        |          (i - 1)) + 12345) % 2147483648) // 1073741824) % 2 = 0
        |        THEN v[i] ELSE -v[i] END)),
        |    (acc, x) -> acc + x) * 0.25::DOUBLE, 6) AS y
        |FROM e CROSS JOIN range(16) t(j)""".stripMargin),

    // Embedding covariance (upper triangle): one mergeable-Aggregator
    // pass (n + Σx + ΣxxT buffer, ~16 KB per task). Compared in EXACT
    // integers — entries quantized to the 2^20 dyadic lattice, statistic
    // n·Σxy − Σx·Σy — so the hash is independent of partial-merge order
    // in BOTH engines (a 6-dp rounding of the double fold flips on
    // scheduling; r9's one red row). The double-precision form stays
    // spec-gated against this one in EmbeddingStatsSpec.
    // Covariance scatter in EXACT integers: entries quantized to the
    // 2^20 lattice with half-up floor(x·2^20 + 0.5) — exact in double
    // for float32 inputs and identical to the engine's kernel — then
    // n·Σxy − Σx·Σy per (i, j), i <= j. DuckDB sums BIGINT into
    // HUGEINT, so the combination is exact; the final cast back to
    // BIGINT matches the engine's range-checked Long. No float rounding
    // anywhere in the compared output.
    QuerySpec("q146_embedding_covariance", (s, dir) => {
      import graft.functions.EmbeddingStats
      EmbeddingStats.covarianceMatrixExact(
        t(s, dir, "embeddings").filter(col("embedding").isNotNull),
        "embedding", scaleBits = 20)
    },
      """WITH e AS (SELECT list_transform(CAST(embedding AS DOUBLE[]),
        |    x -> CAST(floor(x * 1048576.0 + 0.5) AS BIGINT)) AS q
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |n AS (SELECT count(*) AS n FROM e),
        |sx AS (SELECT i, sum(q[i + 1]) AS sx
        |  FROM e CROSS JOIN range(64) t(i) GROUP BY 1),
        |sxy AS (SELECT i, j, sum(q[i + 1] * q[j + 1]) AS sxy
        |  FROM e CROSS JOIN range(64) a(i) CROSS JOIN range(64) b(j)
        |  WHERE j >= i GROUP BY 1, 2)
        |SELECT s.i, s.j,
        |  CAST(n.n * s.sxy - xi.sx * xj.sx AS BIGINT) AS m2
        |FROM sxy s CROSS JOIN n
        |JOIN sx xi ON xi.i = s.i JOIN sx xj ON xj.i = s.j""".stripMargin),

    // CONTRASTIVE TRIPLET MINING: per anchor, the top same-label
    // neighbor (positive) and top different-label neighbor (HARD
    // negative) from the IVF-bucketed kNN graph -- the metric-learning
    // training-pair assembly, never all-pairs; margins on rounded
    // ranks mark the anchors worth training on.
    // q216: q116's IVF kNN chain cut at 8, label lookups joined on
    // both ends, two argmax cuts on ROUNDED cosine (id tie-break) and
    // the rounded margin -- anchors lacking either side drop by the
    // inner join, same as the engine.
    QuerySpec("q216_triplet_mining", (s, dir) => {
      import graft.operators.Similarity
      Similarity.tripletMining(t(s, dir, "embeddings"), "vec_id",
        "embedding", "label", k = 8, nLists = 16, nProbe = 4)
    },
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |don AS (SELECT vec_id AS did, v AS dv FROM e
        |  ORDER BY ((((vec_id % 2147483648) + 2147483648) % 2147483648) * 2654435761) % 4294967296, vec_id LIMIT 16),
        |dist AS (SELECT e.vec_id, d.did,
        |  list_reduce(list_transform(range(1, len(e.v) + 1),
        |    j -> (e.v[j] - d.dv[j]) * (e.v[j] - d.dv[j])), (x, y) -> x + y) AS dd
        |  FROM e CROSS JOIN don d),
        |asg AS (SELECT vec_id, did AS lst FROM dist
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dd, did) = 1),
        |pl AS (SELECT vec_id, did AS lst FROM dist
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dd, did) <= 4),
        |cand AS (SELECT p.vec_id AS id1, a.vec_id AS id2
        |  FROM pl p JOIN asg a ON a.lst = p.lst WHERE a.vec_id <> p.vec_id),
        |cs AS (SELECT c.id1, c.id2,
        |  list_reduce(list_transform(range(1, len(a.v) + 1),
        |    j -> a.v[j] * b.v[j]), (x, y) -> x + y) AS dp,
        |  list_reduce(list_transform(range(1, len(a.v) + 1),
        |    j -> a.v[j] * a.v[j]), (x, y) -> x + y) AS na,
        |  list_reduce(list_transform(range(1, len(b.v) + 1),
        |    j -> b.v[j] * b.v[j]), (x, y) -> x + y) AS nb
        |  FROM cand c JOIN e a ON a.vec_id = c.id1 JOIN e b ON b.vec_id = c.id2),
        |knn AS (SELECT id1, id2, round(dp / (sqrt(na) * sqrt(nb)), 4) AS cr
        |  FROM cs
        |  QUALIFY row_number() OVER (PARTITION BY id1
        |    ORDER BY dp / (sqrt(na) * sqrt(nb)) DESC, id2) <= 8),
        |lab AS (SELECT vec_id, label FROM embeddings),
        |e2 AS (SELECT k.id1, k.id2, k.cr, la.label AS l1, lb.label AS l2
        |  FROM knn k JOIN lab la ON la.vec_id = k.id1
        |  JOIN lab lb ON lb.vec_id = k.id2),
        |pos AS (SELECT id1, id2 AS pos_id, cr AS pos_cos FROM e2
        |  WHERE l1 = l2
        |  QUALIFY row_number() OVER (PARTITION BY id1
        |    ORDER BY cr DESC, id2) = 1),
        |neg AS (SELECT id1, id2 AS neg_id, cr AS neg_cos FROM e2
        |  WHERE l1 <> l2
        |  QUALIFY row_number() OVER (PARTITION BY id1
        |    ORDER BY cr DESC, id2) = 1)
        |SELECT p.id1 AS anchor, pos_id, neg_id, pos_cos, neg_cos,
        |  round(pos_cos - neg_cos, 4) AS margin
        |FROM pos p JOIN neg n ON n.id1 = p.id1""".stripMargin),

    // BITEXT MINING: Artetxe-Schwenk ratio margins between two vector
    // "languages" (label parity splits the fixture) over the IVF
    // candidate machinery -- cosines on the shifted 4-dp integer
    // lattice, margins as exact cross-multiplied ppm, reverse stats
    // over the forward candidate relation. Never all-pairs.
    // q217: the q116 donor/assign/probe chain restricted to A-probes x
    // B-assignments, cosines shifted onto the non-negative 4-dp
    // lattice, top-k sums per end as integers, and the margin as one
    // exact integer division -- floor on both engines because every
    // operand is non-negative.
    QuerySpec("q217_bitext_mining", (s, dir) => {
      import graft.operators.Similarity
      val vecs = t(s, dir, "embeddings")
        .withColumn("side", pmod(col("label"), lit(2)))
      Similarity.bitextMine(vecs, "vec_id", "embedding", "side",
        k = 4, nLists = 16, nProbe = 4)
    },
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |    label % 2 AS side
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |don AS (SELECT vec_id AS did, v AS dv FROM e
        |  ORDER BY ((((vec_id % 2147483648) + 2147483648) % 2147483648) * 2654435761) % 4294967296, vec_id LIMIT 16),
        |dist AS (SELECT e.vec_id, e.side, d.did,
        |  list_reduce(list_transform(range(1, len(e.v) + 1),
        |    j -> (e.v[j] - d.dv[j]) * (e.v[j] - d.dv[j])), (x, y) -> x + y) AS dd
        |  FROM e CROSS JOIN don d),
        |asg AS (SELECT vec_id, did AS lst FROM dist WHERE side = 1
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dd, did) = 1),
        |pl AS (SELECT vec_id, did AS lst FROM dist WHERE side = 0
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dd, did) <= 4),
        |cand AS (SELECT p.vec_id AS id1, a.vec_id AS id2
        |  FROM pl p JOIN asg a ON a.lst = p.lst),
        |cs AS (SELECT c.id1, c.id2,
        |  CAST(round((list_reduce(list_transform(range(1, len(a.v) + 1),
        |      j -> a.v[j] * b.v[j]), (x, y) -> x + y)
        |    / (sqrt(list_reduce(list_transform(range(1, len(a.v) + 1),
        |      j -> a.v[j] * a.v[j]), (x, y) -> x + y))
        |     * sqrt(list_reduce(list_transform(range(1, len(b.v) + 1),
        |      j -> b.v[j] * b.v[j]), (x, y) -> x + y)))) * 10000)
        |    AS BIGINT) + 10000 AS s10k
        |  FROM cand c JOIN e a ON a.vec_id = c.id1 JOIN e b ON b.vec_id = c.id2),
        |fwd AS (SELECT id1, CAST(SUM(s10k) AS BIGINT) AS sumA,
        |    CAST(COUNT(*) AS BIGINT) AS nA
        |  FROM (SELECT * FROM cs QUALIFY row_number() OVER
        |    (PARTITION BY id1 ORDER BY s10k DESC, id2) <= 4)
        |  GROUP BY id1),
        |bwd AS (SELECT id2, CAST(SUM(s10k) AS BIGINT) AS sumB,
        |    CAST(COUNT(*) AS BIGINT) AS nB
        |  FROM (SELECT * FROM cs QUALIFY row_number() OVER
        |    (PARTITION BY id2 ORDER BY s10k DESC, id1) <= 4)
        |  GROUP BY id2),
        |best AS (SELECT id1, id2, s10k FROM cs
        |  QUALIFY row_number() OVER (PARTITION BY id1
        |    ORDER BY s10k DESC, id2) = 1)
        |SELECT b.id1 AS src_id, b.id2 AS tgt_id,
        |  CAST(b.s10k - 10000 AS BIGINT) AS cos10k,
        |  CAST((2000000 * b.s10k * f.nA * w.nB) //
        |    greatest(f.sumA * w.nB + w.sumB * f.nA, 1) AS BIGINT)
        |    AS margin_ppm
        |FROM best b JOIN fwd f ON f.id1 = b.id1
        |JOIN bwd w ON w.id2 = b.id2""".stripMargin),

    // PERSISTED OPQ-ROTATED IVF-PQ: q106's pipeline with a rotation in
    // the sidecar — build rotates once, the probe rotates the query on
    // the way in, codes/codebooks live entirely in rotated space. The
    // rotation here is the dyadic-exact Hadamard block (entries ±0.5) so
    // the oracle replays the whole rotate→assign→encode→ADC chain
    // bit-for-bit; the LEARNED rotation (EmbeddingStats.opqTrain) rides
    // the identical machinery and is spec-gated on its error cut.
    // q106's chain with every vector (query included) first rotated by
    // the H4/2 Hadamard block: sign = (-1)^popcount(r AND c), the 0.5
    // scale applied AFTER the 4-term fold (0.5x is exact scaling, so it
    // commutes with the engine's per-term 0.5 ordering bit-for-bit).
    QuerySpec("q148_opq_index", (s, dir) => {
      import graft.operators.Similarity
      import graft.functions.EmbeddingStats
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>")).head()
        .getSeq[Double](0)
      val idx = scratchDir("graft_opqidx").resolve("idx").toString
      Similarity.writeIvfPqIndex(emb, "vec_id", "embedding", idx,
        nLists = 16, m = 8, nCodes = 16,
        opqRotationOpt = Some(EmbeddingStats.hadamardBlockRotation(64)))
      Similarity.ivfPqTopKIndexed(s, idx, "vec_id", q, k = 10, nProbe = 4)
        .select(col("vec_id"), round(col("adc"), 6).as("adc"))
    },
      """WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS w
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |e AS (SELECT vec_id, list_transform(range(0, 64), k ->
        |    0.5 * list_reduce(list_transform(range(0, 4), c ->
        |      CASE WHEN bit_count((k % 4) & c) % 2 = 0
        |        THEN w[(k // 4) * 4 + c + 1]
        |        ELSE -w[(k // 4) * 4 + c + 1] END), (x, y) -> x + y)) AS v
        |  FROM e0),
        |don AS (SELECT vec_id AS did, v AS dv FROM e
        |  ORDER BY ((((vec_id % 2147483648) + 2147483648) % 2147483648) * 2654435761) % 4294967296, vec_id LIMIT 16),
        |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
        |fulld AS (SELECT e.vec_id, d.did,
        |  list_reduce(list_transform(range(1, len(e.v) + 1),
        |    j -> (e.v[j] - d.dv[j]) * (e.v[j] - d.dv[j])), (x, y) -> x + y) AS dd
        |  FROM e CROSS JOIN don d),
        |asg AS (SELECT vec_id, did AS lst FROM fulld
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dd, did) = 1),
        |pl AS (SELECT did AS lst FROM don CROSS JOIN q
        |  ORDER BY list_reduce(list_transform(range(1, len(dv) + 1),
        |    j -> (dv[j] - qv[j]) * (dv[j] - qv[j])), (x, y) -> x + y), did LIMIT 4),
        |cand AS (SELECT a.vec_id FROM asg a JOIN pl ON a.lst = pl.lst),
        |sd AS (SELECT e.vec_id, t.j, d.did,
        |  list_reduce(list_transform(range(1, 9), i ->
        |    (e.v[t.j * 8 + i] - d.dv[t.j * 8 + i]) *
        |    (e.v[t.j * 8 + i] - d.dv[t.j * 8 + i])), (x, y) -> x + y) AS s
        |  FROM e CROSS JOIN range(8) t(j) CROSS JOIN don d),
        |codes AS (SELECT vec_id, j, did AS code FROM sd
        |  QUALIFY row_number() OVER (PARTITION BY vec_id, j
        |    ORDER BY s ASC, did ASC) = 1),
        |qt AS (SELECT j, did, s FROM sd WHERE vec_id = 0),
        |adc AS (SELECT c.vec_id, sum(q2.s) AS adc FROM codes c
        |  JOIN cand ON cand.vec_id = c.vec_id
        |  JOIN qt q2 ON q2.j = c.j AND q2.did = c.code GROUP BY c.vec_id)
        |SELECT vec_id, round(adc, 6) AS adc
        |FROM adc ORDER BY adc ASC, vec_id LIMIT 10""".stripMargin),

    // ANN recall@k evaluation — the loop that tunes nProbe/nLists: the
    // q119 batched ADC probe's top-10 per query scored against the exact
    // L2 top-10, one recall row per query. The oracle recomputes BOTH
    // legs (q119's CTEs at k=10 + a brute-force rank) and the ratio.
    QuerySpec("q133_ann_recall", (s, dir) => {
      import graft.operators.Similarity
      val emb = t(s, dir, "embeddings")
      val idx = scratchDir("graft_recall").resolve("idx").toString
      Similarity.writeIvfPqIndex(emb, "vec_id", "embedding", idx,
        nLists = 16, m = 8, nCodes = 16)
      val queries = emb.filter(col("vec_id").isin(0L, 1L, 2L))
        .select(col("vec_id").as("query_id"), col("embedding"))
      val approx = Similarity.ivfPqTopKIndexedBatch(s, idx, "vec_id",
        queries, "query_id", "embedding", k = 10, nProbe = 4)
      val exact = emb
        .select(col("vec_id"), col("embedding").cast("array<double>").as("__v"))
        .crossJoin(broadcast(queries.select(col("query_id"),
          col("embedding").cast("array<double>").as("__qv"))))
        .select(col("query_id"), col("vec_id"),
          graft.functions.VectorFns.l2Distance(col("__v"), col("__qv")).as("__d"))
      val exactTop = graft.operators.Ops.topKPerGroup(exact, Seq("query_id"),
        Seq(col("__d").asc, col("vec_id").asc), 10)
      Similarity.recallAtK(approx, exactTop, "query_id", "vec_id", 10)
    },
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |don AS (SELECT vec_id AS did, v AS dv FROM e
        |  ORDER BY ((((vec_id % 2147483648) + 2147483648) % 2147483648) * 2654435761) % 4294967296, vec_id LIMIT 16),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e
        |  WHERE vec_id IN (0, 1, 2)),
        |fulld AS (SELECT e.vec_id, d.did,
        |  list_reduce(list_transform(range(1, len(e.v) + 1),
        |    j -> (e.v[j] - d.dv[j]) * (e.v[j] - d.dv[j])), (x, y) -> x + y) AS dd
        |  FROM e CROSS JOIN don d),
        |asg AS (SELECT vec_id, did AS lst FROM fulld
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dd, did) = 1),
        |pl AS (SELECT q.query_id, d.did AS lst FROM don d CROSS JOIN q
        |  QUALIFY row_number() OVER (PARTITION BY q.query_id
        |    ORDER BY list_reduce(list_transform(range(1, len(d.dv) + 1),
        |      j -> (d.dv[j] - q.qv[j]) * (d.dv[j] - q.qv[j])), (x, y) -> x + y),
        |      d.did) <= 4),
        |cand AS (SELECT p.query_id, a.vec_id FROM pl p JOIN asg a ON a.lst = p.lst),
        |sd AS (SELECT e.vec_id, t.j, d.did,
        |  list_reduce(list_transform(range(1, 9), i ->
        |    (e.v[t.j * 8 + i] - d.dv[t.j * 8 + i]) *
        |    (e.v[t.j * 8 + i] - d.dv[t.j * 8 + i])), (x, y) -> x + y) AS s
        |  FROM e CROSS JOIN range(8) t(j) CROSS JOIN don d),
        |codes AS (SELECT vec_id, j, did AS code FROM sd
        |  QUALIFY row_number() OVER (PARTITION BY vec_id, j
        |    ORDER BY s ASC, did ASC) = 1),
        |qt AS (SELECT q.query_id, t.j, d.did,
        |  list_reduce(list_transform(range(1, 9), i ->
        |    (q.qv[t.j * 8 + i] - d.dv[t.j * 8 + i]) *
        |    (q.qv[t.j * 8 + i] - d.dv[t.j * 8 + i])), (x, y) -> x + y) AS s
        |  FROM q CROSS JOIN range(8) t(j) CROSS JOIN don d),
        |adc AS (SELECT c.query_id, co.vec_id, sum(q2.s) AS a0
        |  FROM codes co JOIN cand c ON c.vec_id = co.vec_id
        |  JOIN qt q2 ON q2.query_id = c.query_id AND q2.j = co.j
        |    AND q2.did = co.code
        |  GROUP BY c.query_id, co.vec_id),
        |apx AS (SELECT query_id, vec_id FROM adc
        |  QUALIFY row_number() OVER (PARTITION BY query_id
        |    ORDER BY a0 ASC, vec_id ASC) <= 10),
        |exd AS (SELECT q.query_id, e.vec_id,
        |  list_reduce(list_transform(range(1, len(e.v) + 1),
        |    j -> (e.v[j] - q.qv[j]) * (e.v[j] - q.qv[j])), (x, y) -> x + y) AS d
        |  FROM e CROSS JOIN q),
        |ext AS (SELECT query_id, vec_id FROM exd
        |  QUALIFY row_number() OVER (PARTITION BY query_id
        |    ORDER BY d ASC, vec_id ASC) <= 10),
        |hits AS (SELECT t.query_id, count(*) AS n FROM ext t
        |  JOIN apx a ON a.query_id = t.query_id AND a.vec_id = t.vec_id
        |  GROUP BY t.query_id)
        |SELECT t2.query_id, CAST(coalesce(h.n, 0) AS DOUBLE) / 10 AS recall
        |FROM (SELECT DISTINCT query_id FROM ext) t2
        |LEFT JOIN hits h USING (query_id)""".stripMargin),

    // BALANCED persisted IVF-PQ: q121's dimension deal stored IN the
    // q106 index layout — perm recorded in the sidecar, probes permute
    // the query on the way in. Oracle = q121's perm/pv CTEs feeding
    // q106's assignment/probe/ADC structure.
    // q121's perm/pv prefix feeding q106's coarse-assign/probe/ADC body:
    // everything — centroids, donors, codes, the query — lives in the
    // permuted space (assignment is L2-invariant under the permutation,
    // but the oracle computes it over pv anyway so summation ORDER also
    // matches the engine).
    QuerySpec("q126_ivfpq_balanced_index", (s, dir) => {
      import graft.operators.Similarity
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>")).head()
        .getSeq[Double](0)
      val idx = scratchDir("graft_pqbalidx").resolve("idx").toString
      Similarity.writeIvfPqIndex(emb, "vec_id", "embedding", idx,
        nLists = 16, m = 8, nCodes = 16, balanced = true)
      Similarity.ivfPqTopKIndexed(s, idx, "vec_id", q, k = 10, nProbe = 4)
        .select(col("vec_id"), round(col("adc"), 6).as("adc"))
    },
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |dims AS (SELECT t.j AS dim, max(e.v[t.j]) - min(e.v[t.j]) AS rg
        |  FROM e CROSS JOIN range(1, 65) t(j) GROUP BY t.j),
        |perm AS (SELECT dim, ((r0 % 8) * 8 + r0 // 8) AS pos FROM (
        |  SELECT dim, row_number() OVER (ORDER BY rg DESC, dim ASC) - 1 AS r0
        |  FROM dims)),
        |pv AS (SELECT e.vec_id, list(e.v[p.dim] ORDER BY p.pos) AS v
        |  FROM e CROSS JOIN perm p GROUP BY e.vec_id),
        |don AS (SELECT p2.vec_id AS did, p2.v AS dv FROM pv p2
        |  ORDER BY ((((p2.vec_id % 2147483648) + 2147483648) % 2147483648) * 2654435761) % 4294967296, p2.vec_id LIMIT 16),
        |q AS (SELECT v AS qv FROM pv WHERE vec_id = 0),
        |fulld AS (SELECT p2.vec_id, d.did,
        |  list_reduce(list_transform(range(1, len(p2.v) + 1),
        |    j -> (p2.v[j] - d.dv[j]) * (p2.v[j] - d.dv[j])), (x, y) -> x + y) AS dd
        |  FROM pv p2 CROSS JOIN don d),
        |asg AS (SELECT vec_id, did AS lst FROM fulld
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dd, did) = 1),
        |pl AS (SELECT did AS lst FROM don CROSS JOIN q
        |  ORDER BY list_reduce(list_transform(range(1, len(dv) + 1),
        |    j -> (dv[j] - qv[j]) * (dv[j] - qv[j])), (x, y) -> x + y), did LIMIT 4),
        |cand AS (SELECT a.vec_id FROM asg a JOIN pl ON a.lst = pl.lst),
        |sd AS (SELECT p2.vec_id, t.j, d.did,
        |  list_reduce(list_transform(range(1, 9), i ->
        |    (p2.v[t.j * 8 + i] - d.dv[t.j * 8 + i]) *
        |    (p2.v[t.j * 8 + i] - d.dv[t.j * 8 + i])), (x, y) -> x + y) AS s
        |  FROM pv p2 CROSS JOIN range(8) t(j) CROSS JOIN don d),
        |codes AS (SELECT vec_id, j, did AS code FROM sd
        |  QUALIFY row_number() OVER (PARTITION BY vec_id, j
        |    ORDER BY s ASC, did ASC) = 1),
        |qt AS (SELECT j, did, s FROM sd WHERE vec_id = 0),
        |adc AS (SELECT c.vec_id, sum(q2.s) AS adc FROM codes c
        |  JOIN cand ON cand.vec_id = c.vec_id
        |  JOIN qt q2 ON q2.j = c.j AND q2.did = c.code GROUP BY c.vec_id)
        |SELECT vec_id, round(adc, 6) AS adc
        |FROM adc ORDER BY adc ASC, vec_id LIMIT 10""".stripMargin),

    // BATCHED index probe: 3 queries scored in ONE scan of the union of
    // their probed lists (per-query ADC tables broadcast together; each
    // code row explodes into a score per query probing its list; top-k
    // per query via a query-partitioned window).
    // q106's plan over THREE queries at once: per-query probe lists and
    // ADC sums, per-query top-5 (rank on the raw sum, id tie-break).
    QuerySpec("q119_ivfpq_batch_probe", (s, dir) => {
      import graft.operators.Similarity
      val emb = t(s, dir, "embeddings")
      val idx = scratchDir("graft_pqbatch").resolve("idx").toString
      Similarity.writeIvfPqIndex(emb, "vec_id", "embedding", idx,
        nLists = 16, m = 8, nCodes = 16)
      val qs = emb.filter(col("vec_id").isin(0L, 1L, 2L))
        .select(col("vec_id").as("query_id"), col("embedding"))
      Similarity.ivfPqTopKIndexedBatch(s, idx, "vec_id", qs, "query_id",
          "embedding", k = 5, nProbe = 4)
        .select(col("query_id"), col("vec_id"),
          round(col("adc"), 6).as("adc"))
    },
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |don AS (SELECT vec_id AS did, v AS dv FROM e
        |  ORDER BY ((((vec_id % 2147483648) + 2147483648) % 2147483648) * 2654435761) % 4294967296, vec_id LIMIT 16),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e
        |  WHERE vec_id IN (0, 1, 2)),
        |fulld AS (SELECT e.vec_id, d.did,
        |  list_reduce(list_transform(range(1, len(e.v) + 1),
        |    j -> (e.v[j] - d.dv[j]) * (e.v[j] - d.dv[j])), (x, y) -> x + y) AS dd
        |  FROM e CROSS JOIN don d),
        |asg AS (SELECT vec_id, did AS lst FROM fulld
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dd, did) = 1),
        |pl AS (SELECT q.query_id, d.did AS lst FROM don d CROSS JOIN q
        |  QUALIFY row_number() OVER (PARTITION BY q.query_id
        |    ORDER BY list_reduce(list_transform(range(1, len(d.dv) + 1),
        |      j -> (d.dv[j] - q.qv[j]) * (d.dv[j] - q.qv[j])), (x, y) -> x + y),
        |      d.did) <= 4),
        |cand AS (SELECT p.query_id, a.vec_id FROM pl p JOIN asg a ON a.lst = p.lst),
        |sd AS (SELECT e.vec_id, t.j, d.did,
        |  list_reduce(list_transform(range(1, 9), i ->
        |    (e.v[t.j * 8 + i] - d.dv[t.j * 8 + i]) *
        |    (e.v[t.j * 8 + i] - d.dv[t.j * 8 + i])), (x, y) -> x + y) AS s
        |  FROM e CROSS JOIN range(8) t(j) CROSS JOIN don d),
        |codes AS (SELECT vec_id, j, did AS code FROM sd
        |  QUALIFY row_number() OVER (PARTITION BY vec_id, j
        |    ORDER BY s ASC, did ASC) = 1),
        |qt AS (SELECT q.query_id, t.j, d.did,
        |  list_reduce(list_transform(range(1, 9), i ->
        |    (q.qv[t.j * 8 + i] - d.dv[t.j * 8 + i]) *
        |    (q.qv[t.j * 8 + i] - d.dv[t.j * 8 + i])), (x, y) -> x + y) AS s
        |  FROM q CROSS JOIN range(8) t(j) CROSS JOIN don d),
        |adc AS (SELECT c.query_id, co.vec_id, sum(q2.s) AS a0
        |  FROM codes co JOIN cand c ON c.vec_id = co.vec_id
        |  JOIN qt q2 ON q2.query_id = c.query_id AND q2.j = co.j
        |    AND q2.did = co.code
        |  GROUP BY c.query_id, co.vec_id)
        |SELECT query_id, vec_id, round(a0, 6) AS adc FROM adc
        |QUALIFY row_number() OVER (PARTITION BY query_id
        |  ORDER BY a0 ASC, vec_id ASC) <= 5""".stripMargin),

    // RESIDUAL IVF-PQ (the actual FAISS IVFPQ formulation): codes span
    // v − c(list), donors drawn from the hash ranks AFTER the centroids
    // (disjoint prefixes), probes build one ADC table per probed list
    // from the query residual q − c_l. Same persisted layout as q106.
    // Residual IVF-PQ: centroids = hash ranks 1..16, donors = ranks
    // 17..32 residualized against THEIR nearest centroid; every vector's
    // codes quantize v − c(list); the probe's per-list ADC tables measure
    // (q − c_l) against the donor residuals.
    QuerySpec("q118_ivfpq_residual", (s, dir) => {
      import graft.operators.Similarity
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>")).head()
        .getSeq[Double](0)
      val idx = scratchDir("graft_pqres").resolve("idx").toString
      Similarity.writeIvfPqIndex(emb, "vec_id", "embedding", idx,
        nLists = 16, m = 8, nCodes = 16, residual = true)
      Similarity.ivfPqTopKIndexed(s, idx, "vec_id", q, k = 10, nProbe = 4)
        .select(col("vec_id"), round(col("adc"), 6).as("adc"))
    },
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |cen AS (SELECT vec_id AS cid, v AS cv FROM e
        |  ORDER BY ((((vec_id % 2147483648) + 2147483648) % 2147483648) * 2654435761) % 4294967296, vec_id LIMIT 16),
        |don AS (SELECT vec_id AS did, v AS dv FROM e
        |  ORDER BY ((((vec_id % 2147483648) + 2147483648) % 2147483648) * 2654435761) % 4294967296, vec_id LIMIT 16 OFFSET 16),
        |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
        |fulld AS (SELECT e.vec_id, c.cid,
        |  list_reduce(list_transform(range(1, len(e.v) + 1),
        |    j -> (e.v[j] - c.cv[j]) * (e.v[j] - c.cv[j])), (x, y) -> x + y) AS dd
        |  FROM e CROSS JOIN cen c),
        |asg AS (SELECT vec_id, cid AS lst FROM fulld
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dd, cid) = 1),
        |res AS (SELECT e.vec_id, a.lst,
        |  list_transform(range(1, len(e.v) + 1), j -> e.v[j] - c.cv[j]) AS r
        |  FROM e JOIN asg a USING (vec_id) JOIN cen c ON c.cid = a.lst),
        |dres AS (SELECT d.did, r.r AS rd FROM don d JOIN res r ON r.vec_id = d.did),
        |sd AS (SELECT r.vec_id, t.j, d.did,
        |  list_reduce(list_transform(range(1, 9), i ->
        |    (r.r[t.j * 8 + i] - d.rd[t.j * 8 + i]) *
        |    (r.r[t.j * 8 + i] - d.rd[t.j * 8 + i])), (x, y) -> x + y) AS s
        |  FROM res r CROSS JOIN range(8) t(j) CROSS JOIN dres d),
        |codes AS (SELECT vec_id, j, did AS code FROM sd
        |  QUALIFY row_number() OVER (PARTITION BY vec_id, j
        |    ORDER BY s ASC, did ASC) = 1),
        |pl AS (SELECT c.cid AS lst, c.cv FROM cen c CROSS JOIN q
        |  ORDER BY list_reduce(list_transform(range(1, len(cv) + 1),
        |    j -> (cv[j] - qv[j]) * (cv[j] - qv[j])), (x, y) -> x + y), cid LIMIT 4),
        |qt AS (SELECT p.lst, t.j, d.did,
        |  list_reduce(list_transform(range(1, 9), i ->
        |    ((qv[t.j * 8 + i] - p.cv[t.j * 8 + i]) - d.rd[t.j * 8 + i]) *
        |    ((qv[t.j * 8 + i] - p.cv[t.j * 8 + i]) - d.rd[t.j * 8 + i])),
        |    (x, y) -> x + y) AS s
        |  FROM pl p CROSS JOIN q CROSS JOIN range(8) t(j) CROSS JOIN dres d),
        |adc AS (SELECT c2.vec_id, sum(q2.s) AS adc
        |  FROM codes c2 JOIN asg a ON a.vec_id = c2.vec_id
        |  JOIN pl ON pl.lst = a.lst
        |  JOIN qt q2 ON q2.lst = a.lst AND q2.j = c2.j AND q2.did = c2.code
        |  GROUP BY c2.vec_id)
        |SELECT vec_id, round(adc, 6) AS adc
        |FROM adc ORDER BY adc ASC, vec_id LIMIT 10""".stripMargin),

    // Embedding clustering: CC over the thresholded kNN graph (cluster =
    // smallest member id, singletons keep their own id; every non-null
    // vector appears exactly once). Oracle: q116's edge set at the RAW
    // cosine threshold + the recursive-CTE reachability of q102.
    // q116's kNN edges thresholded on the RAW cosine, recursive-CTE
    // min-label reachability (q102's CC oracle shape), singletons = own id.
    QuerySpec("q117_embedding_clusters", (s, dir) => {
      import graft.operators.Similarity
      Similarity.clusterEmbeddings(t(s, dir, "embeddings"), "vec_id",
        "embedding", k = 3, minCos = 0.42, nLists = 16, nProbe = 4)
    },
      """WITH RECURSIVE e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |don AS (SELECT vec_id AS did, v AS dv FROM e
        |  ORDER BY ((((vec_id % 2147483648) + 2147483648) % 2147483648) * 2654435761) % 4294967296, vec_id LIMIT 16),
        |dist AS (SELECT e.vec_id, d.did,
        |  list_reduce(list_transform(range(1, len(e.v) + 1),
        |    j -> (e.v[j] - d.dv[j]) * (e.v[j] - d.dv[j])), (x, y) -> x + y) AS dd
        |  FROM e CROSS JOIN don d),
        |asg AS (SELECT vec_id, did AS lst FROM dist
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dd, did) = 1),
        |pl AS (SELECT vec_id, did AS lst FROM dist
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dd, did) <= 4),
        |cand AS (SELECT p.vec_id AS id1, a.vec_id AS id2
        |  FROM pl p JOIN asg a ON a.lst = p.lst WHERE a.vec_id <> p.vec_id),
        |cs AS (SELECT c.id1, c.id2,
        |  list_reduce(list_transform(range(1, len(a.v) + 1),
        |    j -> a.v[j] * b.v[j]), (x, y) -> x + y) AS dp,
        |  list_reduce(list_transform(range(1, len(a.v) + 1),
        |    j -> a.v[j] * a.v[j]), (x, y) -> x + y) AS na,
        |  list_reduce(list_transform(range(1, len(b.v) + 1),
        |    j -> b.v[j] * b.v[j]), (x, y) -> x + y) AS nb
        |  FROM cand c JOIN e a ON a.vec_id = c.id1 JOIN e b ON b.vec_id = c.id2),
        |knn AS (SELECT id1, id2, dp / (sqrt(na) * sqrt(nb)) AS cos FROM cs
        |  QUALIFY row_number() OVER (PARTITION BY id1
        |    ORDER BY dp / (sqrt(na) * sqrt(nb)) DESC, id2) <= 3),
        |edg AS (SELECT id1, id2 FROM knn WHERE cos >= 0.42),
        |und AS (SELECT id1, id2 FROM edg UNION ALL SELECT id2, id1 FROM edg),
        |nodes AS (SELECT DISTINCT id1 AS id FROM und),
        |reach(id, lab) AS (
        |  SELECT id, id FROM nodes
        |  UNION
        |  SELECT u.id2, r.lab FROM reach r JOIN und u ON u.id1 = r.id),
        |compp AS (SELECT id, min(lab) AS comp FROM reach GROUP BY id)
        |SELECT e.vec_id, coalesce(c2.comp, e.vec_id) AS cluster
        |FROM e LEFT JOIN compp c2 ON c2.id = e.vec_id""".stripMargin),

    // ROLLING IVF-PQ lifecycle, oracle-gated end-to-end: build on the
    // first half of the corpus (codebooks freeze at that state — the
    // FAISS serving contract), roll the second half in via two monotone
    // appends, compact back to one file per list, take down vec_id%50==7
    // (plus a never-indexed id: stats must not drift), then probe. The
    // oracle is q106's SQL with the donor CTE restricted to the build
    // half and the dropped ids excluded — the rolled index must be
    // indistinguishable from a frozen-codebook single build.
    // q106's plan with the codebook CTE frozen at the build-half corpus
    // state and the takedown ids excluded — the rolled lifecycle must be
    // indistinguishable from a frozen-codebook single build.
    QuerySpec("q114_ivfpq_rolling", (s, dir) => {
      import graft.operators.Similarity
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>")).head()
        .getSeq[Double](0)
      // plan-time literals (bench discipline: probe construction off the row)
      val mx = emb.agg(coalesce(max(col("vec_id")), lit(0L))).head().getLong(0)
      val cut = mx / 2
      val c2 = cut + (mx - cut) / 2
      val idx = scratchDir("graft_pqroll").resolve("idx").toString
      Similarity.writeIvfPqIndex(emb.filter(col("vec_id") <= cut),
        "vec_id", "embedding", idx, nLists = 16, m = 8, nCodes = 16)
      Similarity.appendToIvfPqIndex(
        emb.filter(col("vec_id") > cut && col("vec_id") <= c2),
        "vec_id", "embedding", idx)
      Similarity.appendToIvfPqIndex(emb.filter(col("vec_id") > c2),
        "vec_id", "embedding", idx)
      Similarity.compactIvfPqIndex(s, idx)
      Similarity.removeFromIvfPqIndex(s, idx,
        emb.filter(col("vec_id") % 50 === 7).select(col("vec_id"))
          .unionByName(s.range(1).select((lit(10 * mx + 100)).as("vec_id"))),
        "vec_id")
      Similarity.ivfPqTopKIndexed(s, idx, "vec_id", q, k = 10, nProbe = 4)
        .select(col("vec_id"), round(col("adc"), 6).as("adc"))
    },
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |cut AS (SELECT CAST(floor(max(vec_id) / 2.0) AS BIGINT) AS c
        |  FROM embeddings),
        |don AS (SELECT vec_id AS did, v AS dv FROM e
        |  WHERE vec_id <= (SELECT c FROM cut)
        |  ORDER BY ((((vec_id % 2147483648) + 2147483648) % 2147483648) * 2654435761) % 4294967296, vec_id LIMIT 16),
        |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
        |fulld AS (SELECT e.vec_id, d.did,
        |  list_reduce(list_transform(range(1, len(e.v) + 1),
        |    j -> (e.v[j] - d.dv[j]) * (e.v[j] - d.dv[j])), (x, y) -> x + y) AS dd
        |  FROM e CROSS JOIN don d),
        |asg AS (SELECT vec_id, did AS lst FROM fulld
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dd, did) = 1),
        |pl AS (SELECT did AS lst FROM don CROSS JOIN q
        |  ORDER BY list_reduce(list_transform(range(1, len(dv) + 1),
        |    j -> (dv[j] - qv[j]) * (dv[j] - qv[j])), (x, y) -> x + y), did LIMIT 4),
        |cand AS (SELECT a.vec_id FROM asg a JOIN pl ON a.lst = pl.lst),
        |sd AS (SELECT e.vec_id, t.j, d.did,
        |  list_reduce(list_transform(range(1, 9), i ->
        |    (e.v[t.j * 8 + i] - d.dv[t.j * 8 + i]) *
        |    (e.v[t.j * 8 + i] - d.dv[t.j * 8 + i])), (x, y) -> x + y) AS s
        |  FROM e CROSS JOIN range(8) t(j) CROSS JOIN don d),
        |codes AS (SELECT vec_id, j, did AS code FROM sd
        |  QUALIFY row_number() OVER (PARTITION BY vec_id, j
        |    ORDER BY s ASC, did ASC) = 1),
        |qt AS (SELECT j, did, s FROM sd WHERE vec_id = 0),
        |adc AS (SELECT c.vec_id, sum(q2.s) AS adc FROM codes c
        |  JOIN cand ON cand.vec_id = c.vec_id
        |  JOIN qt q2 ON q2.j = c.j AND q2.did = c.code GROUP BY c.vec_id)
        |SELECT vec_id, round(adc, 6) AS adc
        |FROM adc WHERE vec_id % 50 <> 7
        |ORDER BY adc ASC, vec_id LIMIT 10""".stripMargin),

    // Embedding-cosine near-dup scoring on consecutive-id pairs (verified
    // double-precision cosine; the LSH-restricted variant is q28/spec).
    QuerySpec("q49_embedding_pairs", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val a = e.select(col("vec_id").as("id1"), col("embedding").as("v1"))
      val b = e.select((col("vec_id") - 1).as("id1"), col("vec_id").as("id2"),
        col("embedding").as("v2"))
      // self-join on consecutive ids: broadcast one side, no shuffle
      a.join(broadcast(b), Seq("id1"))
        .select(col("id1"), col("id2"),
          round(VectorFns.cosine(col("v1"), col("v2")), 4).as("cosine"))
    },
      """WITH z AS (
        |  SELECT a.vec_id AS id1, b.vec_id AS id2,
        |    unnest(CAST(a.embedding AS DOUBLE[])) AS x,
        |    unnest(CAST(b.embedding AS DOUBLE[])) AS y
        |  FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1),
        |s AS (SELECT id1, id2, sum(x * y) AS dp, sum(x * x) AS nx, sum(y * y) AS ny
        |  FROM z GROUP BY id1, id2)
        |SELECT id1, id2, round(dp / (sqrt(nx) * sqrt(ny)), 4) AS cosine FROM s""".stripMargin),

    // MMR DIVERSIFIED TOP-K (Carbonell-Goldstein): greedy
    // lambda*rel - (1-lambda)*max_cos_to_selected with lambda = 1/2
    // exact in binary, kernels in ascending-j order -- the q137
    // discipline, so the oracle replays every pick bit-for-bit.
    // q252: the greedy MMR unrolled pick-for-pick (the q137 k-center
    // pattern) — cosine kernels in the same ascending-j order, the
    // exact-binary 0.5 weights, (score desc, id) argmax each round.
    QuerySpec("q252_mmr_select", (s, dir) => {
      import graft.operators.Similarity
      val q = Array.tabulate(64)(i => ((i + 1) % 5 - 2).toDouble)
      Similarity.mmrSelect(t(s, dir, "embeddings"), "vec_id",
          "embedding", q, k = 6, lambda = 0.5)
        .select(col("pick"), col("vec_id"),
          round(col("score"), 6).as("score"))
    },
      {
      def cos(a: String, b: String) =
        s"(list_reduce(list_transform(range(1, least(len($a.v), " +
          s"len($b.v)) + 1), j -> $a.v[j] * $b.v[j]), (x, y) -> x + y)" +
          s" / (sqrt(list_reduce(list_transform(range(1, len($a.v) + 1)" +
          s", j -> $a.v[j] * $a.v[j]), (x, y) -> x + y))" +
          s" * sqrt(list_reduce(list_transform(range(1, len($b.v) + 1)" +
          s", j -> $b.v[j] * $b.v[j]), (x, y) -> x + y))))"
      val stages = (2 to 5).map { i =>
        s"""d$i AS (SELECT d.vec_id, d.v, d.rel,
           |    greatest(d.smax, ${cos("d", "p")}) AS smax
           |  FROM d${i - 1} d CROSS JOIN p${i - 1} p
           |  WHERE d.vec_id <> p.vec_id),
           |p$i AS (SELECT vec_id, v, rel,
           |    0.5 * rel - 0.5 * smax AS score FROM d$i
           |  ORDER BY score DESC, vec_id LIMIT 1)""".stripMargin
      }.mkString(",\n")
      val tail = (1 to 5).map { i =>
        s"UNION ALL SELECT $i, vec_id, round(score, 6) FROM p$i"
      }.mkString("\n")
      s"""WITH eq AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         |    list_transform(range(1, 65),
         |      j -> CAST(j % 5 - 2 AS DOUBLE)) AS q
         |  FROM embeddings WHERE embedding IS NOT NULL),
         |r AS (SELECT vec_id, v,
         |    list_reduce(list_transform(range(1, least(len(v), len(q))
         |        + 1), j -> v[j] * q[j]), (x, y) -> x + y)
         |      / (sqrt(list_reduce(list_transform(range(1, len(v) + 1),
         |          j -> v[j] * v[j]), (x, y) -> x + y))
         |        * sqrt(list_reduce(list_transform(range(1, len(q) + 1),
         |          j -> q[j] * q[j]), (x, y) -> x + y))) AS rel
         |  FROM eq
         |  WHERE list_reduce(list_transform(range(1, len(v) + 1),
         |    j -> v[j] * v[j]), (x, y) -> x + y) > 0),
         |p0 AS (SELECT vec_id, v, rel FROM r
         |  ORDER BY rel DESC, vec_id LIMIT 1),
         |d1 AS (SELECT d.vec_id, d.v, d.rel, ${cos("d", "p")} AS smax
         |  FROM r d CROSS JOIN p0 p WHERE d.vec_id <> p.vec_id),
         |p1 AS (SELECT vec_id, v, rel,
         |    0.5 * rel - 0.5 * smax AS score FROM d1
         |  ORDER BY score DESC, vec_id LIMIT 1),
         |$stages
         |SELECT CAST(0 AS INTEGER) AS pick, vec_id,
         |  round(rel, 6) AS score FROM p0
         |$tail""".stripMargin
    })
  )
}
