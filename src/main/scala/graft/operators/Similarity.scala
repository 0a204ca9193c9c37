package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFns

/** Approximate-nearest-neighbor search over an embedding column.
  *
  *  - bruteForceTopK: exact cosine top-k — the correctness baseline. Scan is
  *    embarrassingly parallel; the top-k is a `TakeOrderedAndProject`
  *    (per-partition heap + driver merge of k rows), NOT a full sort: at
  *    100 TB only k rows per partition ever move.
  *  - annLsh: random-hyperplane bucket prefilter, then exact rerank within
  *    the probed buckets — trades recall for a ~2^bits scan reduction.
  *  - ivf: k-means-lite inverted-file variant — centroids from a seeded
  *    sample, probe the nProbe nearest lists. Centroid assignment is a
  *    broadcast join; only the probed fraction is scanned.
  */
object Similarity {

  /** Exact top-k by cosine similarity against one query vector (as a literal
    * array column). Deterministic tie-break on id.
    * A vector with a null element is refused: the native cosine kernel
    * fails the job with `IllegalArgumentException` rather than read the slot
    * as a number.
    */
  def bruteForceTopK(vecs: DataFrame, idCol: String, vecCol: String,
      query: Seq[Double], k: Int): DataFrame = {
    val q = array(query.map(lit): _*)
    vecs.select(col(idCol),
        VectorFns.cosine(col(vecCol), q).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol).asc)
      .limit(k)
  }

  /** LSH-bucketed ANN: only vectors whose random-hyperplane bucket matches
    * the query's bucket (within `probes` extra single-bit-flip probes) are
    * scored. Bucket filter is a codegen'd integer comparison — pushed to the
    * scan; the exact rerank touches ~n/2^bits rows.
    * A null element in any vector the cosine rerank scores is refused: the
    * native kernel fails the job with `IllegalArgumentException` rather than
    * read the slot as a number.
    */
  def annLsh(vecs: DataFrame, idCol: String, vecCol: String,
      query: Seq[Double], k: Int, nBits: Int = 8, probes: Int = 3): DataFrame = {
    val q = array(query.map(lit): _*)
    val withBucket = vecs.withColumn("__bucket", VectorFns.rpBucket(col(vecCol), nBits))
    // Driver-side: the query's bucket + single-bit-flip neighbor buckets —
    // the same kernel the UDF runs, called directly (no Spark job to hash
    // one literal vector; O(bits*dim) on the driver).
    val qBucket = VectorFns.rpBucketLocal(query, nBits)
    val probeBuckets = qBucket +: (0 until math.min(probes, nBits)).map(b => qBucket ^ (1L << b))
    withBucket.filter(col("__bucket").isin(probeBuckets: _*))
      .select(col(idCol), VectorFns.cosine(col(vecCol), q).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol).asc)
      .limit(k)
  }

  /** IVF-style ANN: assign every vector to its nearest of `nLists` centroids,
    * then scan only the `nProbe` lists nearest the query. Centroids are a
    * deterministic sample of the data itself (smallest Knuth multiplicative
    * hash of id — SQL-reproducible, so the whole operator has a DuckDB
    * oracle); a real k-means refinement drops in without changing the shape.
    *
    * Scale shape: the assignment is a MAP-SIDE argmin over the broadcast
    * centroid array — zero shuffle, zero row expansion. (The previous
    * crossJoin + row_number() window expanded n×nLists rows AND shuffled
    * them just to take an argmin; at 100 TB that shuffle would have been
    * the whole job.) At scale the assignment is computed once and persisted
    * as a partition column, making the probe a partition-pruned scan.
    * A null element in any vector the cosine rerank scores is refused: the
    * native kernel fails the job with `IllegalArgumentException` rather than
    * read the slot as a number.
    */
  def ivfTopK(vecs: DataFrame, idCol: String, vecCol: String,
      query: Seq[Double], k: Int, nLists: Int = 16, nProbe: Int = 4): DataFrame = {
    val q = array(query.map(lit): _*)
    // Deterministic, SQL-reproducible centroid choice: smallest
    // ((id mod 2^31) * 2654435761) mod 2^32, ties on id. The inner mod
    // keeps the product < 2^62 for arbitrarily large ids (ANSI-safe).
    val idHash = pmod(pmod(col("cid"), lit(2147483648L)) * 2654435761L, lit(4294967296L))
    // numeric-id contract (the SQL-reproducible centroid hash needs it) —
    // enforced loudly instead of NPE-ing on a null cast; null embeddings
    // are dropped up front (they can be near nothing).
    val clean = vecs.filter(col(vecCol).isNotNull)
    val centroids: Array[(Long, Array[Double])] = clean
      .select(col(idCol).cast("long").as("cid"), col(vecCol).cast("array<double>").as("cvec"))
      .orderBy(idHash.asc, col("cid").asc).limit(nLists)
      .collect().map { r =>
        require(!r.isNullAt(0),
          s"ivfTopK requires numeric (long-castable) ids; '$idCol' cast to null")
        (r.getLong(0), r.getSeq[Double](1).toArray)
      }
    def sqDist(a: Seq[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0; val n = math.min(a.length, b.length)
      while (i < n) { val t = a(i) - b(i); s += t * t; i += 1 }
      s
    }
    // one map-side pass: argmin by squared L2 (ties on smaller cid)
    val bc = vecs.sparkSession.sparkContext.broadcast(centroids)
    val assign = udf { (v: Seq[Double]) =>
      var best = Long.MaxValue; var bestD = Double.PositiveInfinity
      bc.value.foreach { case (cid, cv) =>
        val d = sqDist(v, cv)
        if (d < bestD || (d == bestD && cid < best)) { bestD = d; best = cid }
      }
      best
    }
    // probe lists nearest to the query — same argmin order, driver-side
    val probeLists: Seq[Long] = centroids
      .map { case (cid, cv) => (sqDist(query, cv), cid) }
      .sorted.take(nProbe).map(_._2).toSeq
    clean.withColumn("__list", assign(col(vecCol).cast("array<double>")))
      .filter(col("__list").isin(probeLists: _*))
      .select(col(idCol), VectorFns.cosine(col(vecCol), q).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol).asc)
      .limit(k)
  }

  /** Elementwise array mean as a typed Aggregator: map-side partial sums,
    * so a k-means iteration shuffles exactly k×(dim+1) doubles per
    * partition — never the vectors.
    */
  private class ArrayMean extends org.apache.spark.sql.expressions.Aggregator[
      Seq[Double], (Array[Double], Long), Seq[Double]] with Serializable {
    def zero: (Array[Double], Long) = (Array.empty[Double], 0L)
    def reduce(b: (Array[Double], Long), v: Seq[Double]): (Array[Double], Long) = {
      if (v == null) b
      else {
        val s = if (b._1.isEmpty) new Array[Double](v.length) else b._1
        var i = 0; val n = math.min(s.length, v.length)
        while (i < n) { s(i) += v(i); i += 1 }
        (s, b._2 + 1)
      }
    }
    def merge(a: (Array[Double], Long), b: (Array[Double], Long)): (Array[Double], Long) =
      if (a._1.isEmpty) b
      else if (b._1.isEmpty) a
      else {
        var i = 0
        while (i < a._1.length) { a._1(i) += b._1(i); i += 1 }
        (a._1, a._2 + b._2)
      }
    def finish(b: (Array[Double], Long)): Seq[Double] =
      if (b._2 == 0L) null else b._1.map(_ / b._2).toSeq
    def bufferEncoder = org.apache.spark.sql.Encoders.kryo[(Array[Double], Long)]
    def outputEncoder =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Double]]()
  }

  private def sqDistArr(a: Seq[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0; val n = math.min(a.length, b.length)
    while (i < n) { val t = a(i) - b(i); s += t * t; i += 1 }
    s
  }

  /** Map-side argmin of squared L2 against broadcast centroids — returns
    * the list INDEX (first index wins ties). One shared definition keeps
    * index build, trained probe and k-means assignment bit-consistent.
    */
  private def assignUdf(spark: org.apache.spark.sql.SparkSession,
      centroids: Array[Array[Double]]) = {
    val bc = spark.sparkContext.broadcast(centroids)
    val fn = udf { (v: Seq[Double]) =>
      var best = -1; var bestD = Double.PositiveInfinity; var i = 0
      val cs = bc.value
      while (i < cs.length) {
        val d = sqDistArr(v, cs(i))
        if (d < bestD) { bestD = d; best = i }
        i += 1
      }
      best
    }
    (fn, bc)
  }

  /** The nProbe list indices nearest the query (same tie rule). */
  private def nearestLists(query: Seq[Double],
      centroids: Array[Array[Double]], nProbe: Int): Seq[Int] =
    centroids.indices.map(i => (sqDistArr(query, centroids(i)), i))
      .sorted.take(nProbe).map(_._2)

  /** Lloyd k-means over the embedding column. Each iteration is one
    * map-side argmin against the broadcast centroids plus one k-row
    * shuffle of elementwise partial sums — the canonical distributed
    * k-means shape (centroid state is k×dim, driver-held and broadcast;
    * the data never re-shuffles). Init is the same deterministic hash
    * sample as [[ivfTopK]], so training is reproducible run-to-run.
    * Empty clusters keep their previous centroid.
    */
  def kmeansCentroids(vecs: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int = 5): Array[Array[Double]] = {
    val spark = vecs.sparkSession
    val idHash = pmod(pmod(col("cid"), lit(2147483648L)) * 2654435761L, lit(4294967296L))
    val clean = vecs.filter(col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as("cid"),
        col(vecCol).cast("array<double>").as("v"))
      .persist() // read k-1 init passes + iters times; don't re-run lineage
    // Farthest-first init (deterministic k-means++ flavor): seed with the
    // hash-smallest point, then k-1 map-side max-of-min-distance passes.
    // Avoids the all-seeds-in-one-cluster local minimum that a plain
    // sample init falls into; each pass moves ONE row to the driver.
    var cents: Array[Array[Double]] = clean
      .orderBy(idHash.asc, col("cid").asc).limit(1)
      .collect().map(_.getSeq[Double](1).toArray)
    while (cents.length < k) {
      val bcInit = spark.sparkContext.broadcast(cents)
      val minDist = udf { (v: Seq[Double]) =>
        var m = Double.PositiveInfinity
        bcInit.value.foreach { c => val d = sqDistArr(v, c); if (d < m) m = d }
        m
      }
      val far = clean.select(col("cid"), col("v"), minDist(col("v")).as("d"))
        .orderBy(col("d").desc, col("cid").asc).limit(1).collect()
      bcInit.unpersist()
      if (far.isEmpty) { clean.unpersist(); return cents } // empty input
      if (far(0).getDouble(2) == 0.0) {
        // fewer DISTINCT points than k: every remaining point coincides
        // with a centroid — stop rather than append duplicate centroids
        // (benign but they waste probe lists)
        clean.unpersist(); return cents
      }
      cents = cents :+ far(0).getSeq[Double](1).toArray
    }
    val meanAgg = org.apache.spark.sql.functions.udaf(new ArrayMean)
    var it = 0
    while (it < iters) {
      // eager collect per iteration -> the broadcast can be released
      // deterministically instead of waiting for the ContextCleaner
      val (assign, bc) = assignUdf(spark, cents)
      val means = clean.groupBy(assign(col("v")).as("list"))
        .agg(meanAgg(col("v")).as("c"))
        .collect().map(r => r.getInt(0) -> r.getSeq[Double](1).toArray).toMap
      bc.unpersist()
      cents = cents.indices.map(i => means.getOrElse(i, cents(i))).toArray
      it += 1
    }
    clean.unpersist()
    cents
  }

  /** IVF scan against caller-supplied centroids (e.g. from
    * [[kmeansCentroids]]): map-side argmin assignment, probe the nProbe
    * nearest lists, exact cosine rerank inside them. Same zero-shuffle
    * shape as [[ivfTopK]] — only the centroid source differs.
    * A null element in any vector the cosine rerank scores is refused: the
    * native kernel fails the job with `IllegalArgumentException` rather than
    * read the slot as a number.
    */
  def ivfTopKTrained(vecs: DataFrame, idCol: String, vecCol: String,
      query: Seq[Double], k: Int, centroids: Array[Array[Double]],
      nProbe: Int = 4): DataFrame = {
    val q = array(query.map(lit): _*)
    val clean = vecs.filter(col(vecCol).isNotNull)
    // lazy result: the broadcast must outlive the returned plan (GC'd by
    // the ContextCleaner once the DataFrame is unreachable)
    val (assign, _) = assignUdf(vecs.sparkSession, centroids)
    val probeLists = nearestLists(query, centroids, nProbe)
    clean.withColumn("__list", assign(col(vecCol).cast("array<double>")))
      .filter(col("__list").isin(probeLists: _*))
      .select(col(idCol), VectorFns.cosine(col(vecCol), q).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol).asc)
      .limit(k)
  }

  /** Persist an IVF index: vectors parquet-partitioned by their centroid
    * list, centroids in a JSON sidecar. This is the at-scale serving
    * layout — the assignment shuffle happens ONCE at build; every probe
    * afterwards is a partition-pruned scan of nProbe/nLists of the data
    * (`PartitionFilters` in the plan, directories never listed for
    * unprobed lists).
    */
  def writeIvfIndex(vecs: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Double]], path: String): Unit = {
    val spark = vecs.sparkSession
    val (assign, bcW) = assignUdf(spark, centroids)
    vecs.filter(col(vecCol).isNotNull)
      .withColumn("__list", assign(col(vecCol).cast("array<double>")))
      // cluster on the list before the partitioned write: file count
      // bounded by nLists instead of tasks×nLists
      .repartition(col("__list"))
      .write.mode("overwrite").partitionBy("__list").parquet(path)
    bcW.unpersist() // write is eager; release the centroid copy now
    val sidecar = centroids.map(_.mkString("[", ",", "]"))
      .mkString("{\"centroids\":[", ",", "]}")
    val p = new org.apache.hadoop.fs.Path(path, "_ivf_centroids.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val os = fs.create(p, true)
    try os.write(sidecar.getBytes("UTF-8")) finally os.close()
  }

  /** Probe a persisted IVF index: read the centroid sidecar, scan ONLY the
    * nProbe nearest list partitions (partition pruning — check
    * `PartitionFilters` in `.explain`), exact cosine rerank inside them.
    * A null element in any vector the cosine rerank scores is refused: the
    * native kernel fails the job with `IllegalArgumentException` rather than
    * read the slot as a number.
    */
  def ivfTopKIndexed(spark: org.apache.spark.sql.SparkSession, path: String,
      idCol: String, vecCol: String, query: Seq[Double], k: Int,
      nProbe: Int = 4): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path, "_ivf_centroids.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    val raw = try {
      val len = fs.getFileStatus(p).getLen.toInt
      val buf = new Array[Byte](len); in.readFully(0, buf); new String(buf, "UTF-8")
    } finally in.close()
    val centroids: Array[Array[Double]] =
      "\\[([-0-9.,eE]+)\\]".r.findAllMatchIn(raw)
        .map(_.group(1).split(",").map(_.toDouble)).toArray
    require(centroids.nonEmpty, s"$path: no centroids in _ivf_centroids.json")
    val probeLists = nearestLists(query, centroids, nProbe)
    val q = array(query.map(lit): _*)
    spark.read.parquet(path)
      .filter(col("__list").isin(probeLists: _*))
      .select(col(idCol), VectorFns.cosine(col(vecCol), q).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol).asc)
      .limit(k)
  }

  /** All-pairs cosine above a threshold, LSH-restricted (see
    * Dedup.embeddingNearDup). A null element in any vector the cosine
    * rerank scores is refused: the native kernel fails the job with
    * `IllegalArgumentException` rather than read the slot as a number.
    */
  def similarPairs(vecs: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nBits: Int = 8): DataFrame =
    Dedup.embeddingNearDup(vecs, idCol, vecCol, threshold, nBits)

  // ------------------------------------------------- product quantization

  /** SQL-reproducible PQ codebook donors: the same multiplicative-hash
    * selection as [[ivfTopK]] picks `nCodes` corpus vectors; subspace j's
    * codebook is their j-th subvectors. Returned sorted by donor id (the
    * deterministic tie order every consumer relies on). Data-drawn, so
    * codes adapt to the corpus without a training pass; for LEARNED
    * codebooks run [[kmeansCentroids]] per subspace and feed the result
    * through the same encode/search shapes.
    */
  def pqDonors(vecs: DataFrame, idCol: String, vecCol: String,
      nCodes: Int, skip: Int = 0): Array[(Long, Array[Double])] = {
    val idHash = pmod(pmod(col("cid"), lit(2147483648L)) * 2654435761L,
      lit(4294967296L))
    // `skip` drops the first hash-ranked rows — residual indexes draw
    // centroids and donors from DISJOINT prefixes of the same hash order
    // (a donor that IS a centroid has residual zero: a dead codebook row)
    vecs.filter(col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as("cid"),
        col(vecCol).cast("array<double>").as("cvec"))
      .orderBy(idHash.asc, col("cid").asc).limit(skip + nCodes)
      .collect().drop(skip).map { r =>
        require(!r.isNullAt(0),
          s"pqDonors requires numeric (long-castable) ids; '$idCol' cast to null")
        (r.getLong(0), r.getSeq[Double](1).toArray)
      }.sortBy(_._1)
  }

  /** Product-quantization encode: split the D-dim space into `m`
    * subspaces and code each subvector by its nearest donor subvector
    * (squared L2, ties to the smaller donor id) — m small codes per
    * vector instead of 8D bytes, the memory-compression layer of ANN
    * serving (persist THIS relation; the raw vectors stay in cold
    * storage). One map-side pass, nothing shuffles.
    */
  private def pqEncodeUdf(spark: org.apache.spark.sql.SparkSession,
      donors: Array[(Long, Array[Double])],
      m: Int): org.apache.spark.sql.expressions.UserDefinedFunction = {
    val dim = donors.head._2.length
    require(dim % m == 0, s"m=$m must divide dim=$dim")
    val sub = dim / m
    val bc = spark.sparkContext.broadcast(donors)
    udf { (v: Seq[Double]) =>
      Array.tabulate(m) { j =>
        var best = -1L; var bd = Double.PositiveInfinity
        bc.value.foreach { case (did, dv) =>
          var s = 0.0; var i = 0
          while (i < sub) {
            val t = v(j * sub + i) - dv(j * sub + i); s += t * t; i += 1
          }
          if (s < bd) { bd = s; best = did } // donors id-sorted: ties → min id
        }
        best
      }
    }
  }

  def pqEncode(vecs: DataFrame, idCol: String, vecCol: String,
      donors: Array[(Long, Array[Double])], m: Int): DataFrame = {
    val encode = pqEncodeUdf(vecs.sparkSession, donors, m)
    vecs.filter(col(vecCol).isNotNull)
      .select(col(idCol), encode(col(vecCol).cast("array<double>")).as("pq_codes"))
  }

  /** LEARNED per-subspace PQ codebooks: [[kmeansCentroids]] run
    * independently on each of the m subvector slices, re-assembled into
    * the (id, full-dim vector) donor shape [[pqEncode]]/[[pqSearchCodes]]
    * already consume — donor c's subspace-j slice is subspace j's c-th
    * centroid, and ids are synthetic 0..k-1 (the encode tie-break stays
    * deterministic). This is the real PQ training step (Jégou et al.
    * 2011): each subspace quantizes around ITS OWN cluster structure
    * instead of around whole-vector donors, which on clustered data cuts
    * quantization error (spec-quantified). Cost: m distributed k-means
    * runs over sliced vectors — a build-time pass, never per-query.
    * Centroid count is clamped to the smallest subspace's distinct-point
    * yield so every subspace contributes exactly one slice per donor.
    */
  def pqSubspaceCodebooks(vecs: DataFrame, idCol: String, vecCol: String,
      m: Int, nCodes: Int, iters: Int = 5): Array[(Long, Array[Double])] = {
    val clean = vecs.filter(col(vecCol).isNotNull)
    val first = clean.select(col(vecCol).cast("array<double>")).head()
    val dim = first.getSeq[Double](0).length
    require(dim % m == 0, s"m=$m must divide dim=$dim")
    val sub = dim / m
    val books: IndexedSeq[Array[Array[Double]]] = (0 until m).map { j =>
      kmeansCentroids(
        clean.select(col(idCol),
          slice(col(vecCol).cast("array<double>"), j * sub + 1, sub).as("__sv")),
        idCol, "__sv", nCodes, iters)
    }
    val kEff = books.map(_.length).min
    Array.tabulate(kEff) { c =>
      (c.toLong, (0 until m).flatMap(j => books(j)(c)).toArray)
    }
  }

  /** Asymmetric-distance search over a PQ-coded relation: the query's
    * m × nCodes distance table is computed ONCE driver-side and
    * broadcast; each coded row costs m lookups + adds, and the top-k is
    * a TakeOrderedAndProject. Approximation error is the quantization
    * residual — rank by `adc` ascending (squared-L2 surrogate).
    */
  def pqSearchCodes(codes: DataFrame, idCol: String,
      donors: Array[(Long, Array[Double])], query: Seq[Double], k: Int,
      m: Int): DataFrame = {
    val dim = donors.head._2.length
    val sub = dim / m
    val table: Map[(Int, Long), Double] = (for {
      j <- 0 until m; (did, dv) <- donors
    } yield {
      var s = 0.0; var i = 0
      while (i < sub) { val t = query(j * sub + i) - dv(j * sub + i); s += t * t; i += 1 }
      ((j, did), s)
    }).toMap
    val bt = codes.sparkSession.sparkContext.broadcast(table)
    val adc = udf { (cs: Seq[Long]) =>
      var s = 0.0; var j = 0
      while (j < cs.length) { s += bt.value((j, cs(j))); j += 1 }
      s
    }
    codes.select(col(idCol), adc(col("pq_codes")).as("adc"))
      .orderBy(col("adc").asc, col(idCol).asc)
      .limit(k)
  }

  /** One-shot PQ top-k (donors → encode → ADC search) — the gate-query
    * shape; serving splits it: [[pqDonors]] + [[pqEncode]] persisted
    * once, [[pqSearchCodes]] per query.
    */
  def pqTopK(vecs: DataFrame, idCol: String, vecCol: String,
      query: Seq[Double], k: Int, m: Int = 8, nCodes: Int = 16): DataFrame = {
    val donors = pqDonors(vecs, idCol, vecCol, nCodes)
    pqSearchCodes(pqEncode(vecs, idCol, vecCol, donors, m), idCol, donors,
      query, k, m)
  }

  /** IVF-PQ: the combined serving shape (FAISS's IVFPQ) — coarse
    * quantizer prunes to `nProbe` of `nLists` inverted lists, PQ codes
    * rank within them by asymmetric distance. Both codebooks come from
    * the same SQL-reproducible hash-donor selection ([[pqDonors]]);
    * list assignment is one map-side argmin, candidate filtering is an
    * isin on the list id (partition pruning once the coded relation is
    * persisted partitioned by `ivf_list`, as [[writeIvfIndex]] does for
    * raw vectors), and the ADC scan costs m lookups per surviving row.
    * At billion-vector scale: nProbe/nLists of the corpus scanned, m
    * bytes per row held — the two savings multiply.
    */
  /** Map-side argmin against ID-KEYED centroids (ties → smaller id) — the
    * coarse quantizer shared by [[ivfPqTopK]] and [[writeIvfPqIndex]], one
    * definition so build and one-shot agree bit-for-bit. Round-20: a
    * native codegen expression ([[graft.expr.NearestCentroidIdExpr]] —
    * same strict-compare/tie arithmetic, order-independent over distinct
    * ids) instead of an interpreted UDF that converted every vector to
    * Seq[Double]; the nLists-bounded codebook rides in the expression, so
    * the broadcast plumbing goes too.
    */
  private def assignByIdUdf(spark: org.apache.spark.sql.SparkSession,
      centroids: Array[(Long, Array[Double])]): Column => Column =
    v => graft.expr.GraftExpressions.nearestCentroidId(v, centroids)

  /** TWO-LEVEL approximate coarse assignment for huge list counts (the
    * inverted-multi-index idea, Babenko & Lempitsky 2012, reduced to one
    * extra level): the centroids are themselves grouped under
    * g ≈ √nLists hash-drawn representatives; a row finds its `wGroups`
    * nearest representatives (O(g)) and scans only those groups'
    * centroids (O(wGroups·nLists/g)) — ~√nLists distance evaluations per
    * row instead of nLists. Approximate: exact whenever the true nearest
    * centroid's group is probed (spec: ≥99% agreement on clustered data
    * at wGroups=4). Ties break identically to the exact assigner, so
    * agreement cases are bit-identical.
    */
  private def hierarchicalAssignUdf(spark: org.apache.spark.sql.SparkSession,
      centroids: Array[(Long, Array[Double])], wGroups: Int) = {
    val g = math.max(1, math.round(math.sqrt(centroids.length.toDouble)).toInt)
    def knuth(id: Long): Long =
      (((id % 2147483648L) + 2147483648L) % 2147483648L) * 2654435761L % 4294967296L
    val reps = centroids.sortBy(c => (knuth(c._1), c._1)).take(g)
    def nearestRep(v: Array[Double]): Long = {
      var best = Long.MaxValue; var bd = Double.PositiveInfinity
      reps.foreach { case (rid, rv) =>
        val d = sqDistArr(v.toSeq, rv)
        if (d < bd || (d == bd && rid < best)) { bd = d; best = rid }
      }
      best
    }
    val grouped: Map[Long, Array[(Long, Array[Double])]] =
      centroids.groupBy(c => nearestRep(c._2))
    val bcReps = spark.sparkContext.broadcast(reps)
    val bcGroups = spark.sparkContext.broadcast(grouped)
    udf { (v: Seq[Double]) =>
      val near = bcReps.value
        .map { case (rid, rv) => (sqDistArr(v, rv), rid) }
        .sorted.take(wGroups)
      var best = Long.MaxValue; var bd = Double.PositiveInfinity
      near.foreach { case (_, rid) =>
        bcGroups.value.getOrElse(rid, Array.empty).foreach { case (cid, cv) =>
          val d = sqDistArr(v, cv)
          if (d < bd || (d == bd && cid < best)) { bd = d; best = cid }
        }
      }
      best
    }
  }

  /** The nProbe centroid IDS nearest the query (ties → smaller id). */
  private def nearestListIds(query: Seq[Double],
      centroids: Array[(Long, Array[Double])], nProbe: Int): Seq[Long] =
    centroids.map { case (cid, cv) => (sqDistArr(query, cv), cid) }
      .sorted.take(nProbe).map(_._2).toSeq

  /** One-shot IVF-PQ top-k: hash-donor coarse lists and PQ codebooks, the
    * `nProbe` nearest lists scored by ADC. A vector with a null element
    * is refused: the native nearest-centroid kernel fails the job with
    * `IllegalArgumentException` rather than read the slot as a number.
    */
  def ivfPqTopK(vecs: DataFrame, idCol: String, vecCol: String,
      query: Seq[Double], k: Int, nLists: Int = 16, nProbe: Int = 4,
      m: Int = 8, nCodes: Int = 16): DataFrame = {
    val clean = vecs.filter(col(vecCol).isNotNull)
    val centroids = pqDonors(clean, idCol, vecCol, nLists)
    val donors = pqDonors(clean, idCol, vecCol, nCodes)
    val assign = assignByIdUdf(clean.sparkSession, centroids)
    val probed = nearestListIds(query, centroids, nProbe)
    // ONE scan: assign → probe filter → encode, so codes are computed
    // only for rows inside the probed lists
    val encode = pqEncodeUdf(clean.sparkSession, donors, m)
    val coded = clean.select(col(idCol),
        col(vecCol).cast("array<double>").as("__v"),
        assign(col(vecCol).cast("array<double>")).as("ivf_list"))
      .filter(col("ivf_list").isin(probed: _*))
      .select(col(idCol), encode(col("__v")).as("pq_codes"))
    pqSearchCodes(coded, idCol, donors, query, k, m)
  }

  /** Persist an IVF-PQ index — the billion-vector serving layout (FAISS's
    * on-disk IVFPQ re-expressed as partitioned parquet): every vector's
    * m PQ codes stored in `codes/` PARTITIONED BY its coarse list
    * `ivf_list`, with the coarse centroids and PQ donors in a JSON
    * sidecar. Compare [[writeIvfIndex]], which persists RAW vectors
    * (8·dim bytes/row): here a row costs 8·m bytes — ×dim/m smaller —
    * and a probe reads nProbe/nLists of THAT. The assignment + encode
    * scan runs ONCE at build; probes never touch the raw vectors.
    *
    * Codebooks default to the same SQL-reproducible hash-donor selection
    * as [[ivfPqTopK]] (so the whole index has a DuckDB oracle); pass
    * `centroids`/`donors` explicitly for LEARNED codebooks (e.g.
    * [[pqSubspaceCodebooks]]) — the layout and probe are identical.
    *
    * `residual = true` encodes each vector's RESIDUAL `v − c(list)`
    * instead of `v` — the actual FAISS IVFPQ formulation (Jégou et al.
    * 2011 §IV): the coarse quantizer absorbs the vector's position, the
    * PQ codebooks only span the within-list spread, cutting quantization
    * error (spec-quantified). Default donor selection then draws from the
    * hash ranks AFTER the centroids (disjoint prefixes — a donor that IS
    * a centroid would contribute a zero residual, a dead codebook row)
    * and the stored donor vectors are the donors' residuals. Probes build
    * one ADC table PER PROBED LIST (q − c_l against the donor residuals)
    * — nProbe · m · nCodes entries, still driver-side and broadcast.
    *
    * `balanced = true` applies the [[pqBalancedPerm]] dimension deal
    * BEFORE anything else: the whole index — centroids, donors, codes —
    * lives in the permuted space, `perm` is recorded in the sidecar, and
    * every probe/append permutes its vectors on the way in. Coarse
    * assignment is unchanged by construction (a permutation is
    * orthogonal, L2 distances and their ties are invariant); only the PQ
    * subspace split — the thing the deal balances — differs.
    * With the flat coarse assignment (`assignGroups = 0`, the default), a
    * vector with a null element is refused: the native nearest-centroid
    * kernel fails the job with `IllegalArgumentException` rather than read
    * the slot as a number.
    */
  def writeIvfPqIndex(vecs: DataFrame, idCol: String, vecCol: String,
      path: String, nLists: Int = 16, m: Int = 8, nCodes: Int = 16,
      centroidsOpt: Option[Array[(Long, Array[Double])]] = None,
      donorsOpt: Option[Array[(Long, Array[Double])]] = None,
      residual: Boolean = false, assignGroups: Int = 0,
      balanced: Boolean = false,
      opqRotationOpt: Option[Array[Array[Double]]] = None): Unit = {
    val spark = vecs.sparkSession
    require(!(balanced && (centroidsOpt.isDefined || donorsOpt.isDefined)),
      "writeIvfPqIndex: balanced=true derives its own permuted-space " +
        "codebooks — explicit centroids/donors would silently live in " +
        "the wrong space")
    require(!(balanced && opqRotationOpt.isDefined),
      "writeIvfPqIndex: balanced and opqRotationOpt are alternative " +
        "subspace-decorrelation treatments — pick one")
    // explicit codebooks MAY accompany a rotation — they are then BY
    // CONTRACT in rotated space (the only coherent reading: centroids,
    // donors, and codes all live there). writeIvfPqIndexFromOpq builds
    // them that way from a trained OpqModel.
    // the rotation (an orthonormal basis — rows from EmbeddingStats
    // .opqRotation / opqTrain) is persisted in the sidecar like `perm`:
    // probes and appends rotate on the way in, so the caller always
    // works in raw space and drift telemetry lives in rotated space
    val perm: Option[Array[Int]] =
      if (balanced) Some(pqBalancedPerm(vecs, idCol, vecCol, m)) else None
    val clean = applyRot(
      applyPerm(vecs.filter(col(vecCol).isNotNull), vecCol, perm),
      vecCol, opqRotationOpt)
    val centroids = centroidsOpt.getOrElse(pqDonors(clean, idCol, vecCol, nLists))
    val rawDonors = donorsOpt.getOrElse(
      pqDonors(clean, idCol, vecCol, nCodes, skip = if (residual) nLists else 0))
    require(centroids.nonEmpty && rawDonors.nonEmpty,
      "writeIvfPqIndex: empty centroid/donor codebook (empty corpus?)")
    // in residual mode the STORED codebook is the donors' residuals —
    // probes never need the raw donor vectors again
    val donors =
      if (residual) residualizeDonors(rawDonors, centroids) else rawDonors
    // one scan: assign + encode together; cluster on the list before the
    // partitioned write so file count is bounded by the list count, not
    // tasks×lists (same discipline as writeSignatureIndex)
    val coded =
      if (residual) {
        val encR = residualEncodeUdf(spark, centroids, donors, m, assignGroups)
        clean.select(col(idCol).cast("long").as(idCol),
            encR(col(vecCol).cast("array<double>")).as("__le"))
          .select(col(idCol), col("__le._1").as("ivf_list"),
            col("__le._2").as("pq_codes"))
      } else {
        val assign: Column => Column =
          if (assignGroups > 0)
            hierarchicalAssignUdf(spark, centroids, assignGroups)(_)
          else assignByIdUdf(spark, centroids)
        val encode = pqEncodeUdf(spark, donors, m)
        clean.select(col(idCol).cast("long").as(idCol),
          assign(col(vecCol).cast("array<double>")).as("ivf_list"),
          encode(col(vecCol).cast("array<double>")).as("pq_codes"))
      }
    coded.repartition(col("ivf_list"))
      .write.mode("overwrite").partitionBy("ivf_list").parquet(s"$path/codes")
    // stats from the WRITTEN relation (m longs/row), so maxId/nVecs
    // describe exactly what a probe will see — same discipline as
    // Dedup.writeSignatureIndex's read-back
    val stats = IndexStore.read(spark, s"$path/codes")
      .agg(coalesce(max(col(idCol)), lit(Long.MinValue)).as("maxId"),
        count(lit(1)).as("n")).head()
    require(stats.getLong(1) > 0, "writeIvfPqIndex: refusing to index an " +
      "empty corpus (no non-null vectors)")
    // drift baseline: build-time mean reconstruction error (see
    // meanQuantErr) — what append errors are compared against
    val baseErr = meanQuantErr(clean, vecCol, centroids, donors, m,
      residual, assignGroups)
    val store = ivfPqStore(spark, path)
    store.writeSidecar(IvfPqMeta(m, stats.getLong(0), stats.getLong(1),
      residual, assignGroups, centroids, donors, None, None, baseErr, Nil,
      perm, opqRotationOpt).json)
    store.reset() // a full rebuild is the documented crash recovery
  }

  /** The IVF-PQ index as an [[IndexStore]]: one relation, `codes/`. */
  private def ivfPqStore(spark: org.apache.spark.sql.SparkSession,
      path: String) =
    IndexStore(spark, path, "_ivfpq_meta.json", "writeIvfPqIndex",
      Seq(s"$path/codes" -> "ivf_list"))

  /** Build a persisted IVF-PQ index from a TRAINED OPQ model
    * ([[graft.functions.EmbeddingStats.opqTrain]]): the rotation goes to
    * the sidecar (probes/appends rotate on the way in), and the model's
    * per-subspace codebooks become the PQ donors — codeword c of every
    * subspace concatenates into full-dim donor c, exactly the slice
    * layout [[pqEncode]] reads back. Coarse centroids stay the
    * SQL-reproducible hash selection, drawn in rotated space. This is
    * the full Ge et al. 2013 serving path: train on a bounded shard
    * (driver-side), apply at corpus scale through the index.
    * A vector with a null element is refused: the native nearest-centroid
    * kernel fails the job with `IllegalArgumentException` rather than read
    * the slot as a number.
    */
  def writeIvfPqIndexFromOpq(vecs: DataFrame, idCol: String, vecCol: String,
      path: String, model: graft.functions.EmbeddingStats.OpqModel,
      nLists: Int = 16): Unit = {
    val m = model.codebooks.length
    require(m >= 1, "writeIvfPqIndexFromOpq: empty codebooks")
    val nCodes = model.codebooks.head.length
    require(model.codebooks.forall(_.length == nCodes),
      "writeIvfPqIndexFromOpq: ragged codebooks — every subspace must " +
        "hold the same number of codewords (train with nCodes <= the " +
        "smallest subspace's point count)")
    val donors = Array.tabulate(nCodes)(c =>
      (c.toLong, model.codebooks.flatMap(b => b(c)).toArray))
    writeIvfPqIndex(vecs, idCol, vecCol, path, nLists = nLists, m = m,
      nCodes = nCodes, donorsOpt = Some(donors),
      opqRotationOpt = Some(model.rotation))
  }

  /** Project `vecCol` through a stored dimension permutation — a literal
    * array of `getItem`s (codegen, no UDF); identity when `perm` is
    * absent. Probes/appends against a `balanced` index funnel through
    * this so the caller always works in raw space.
    */
  private def applyPerm(df: DataFrame, vecCol: String,
      perm: Option[Array[Int]]): DataFrame = perm match {
    case None => df
    case Some(p) =>
      val v = col(vecCol).cast("array<double>")
      df.withColumn(vecCol,
        array(p.map(i => v.getItem(i)).toIndexedSeq: _*))
  }

  private def permQuery(query: Seq[Double],
      perm: Option[Array[Int]]): Seq[Double] =
    perm.map(p => p.toIndexedSeq.map(query(_)): Seq[Double]).getOrElse(query)

  /** Project `vecCol` through a stored OPQ rotation (rows of `rot` are
    * the output basis) — identity when absent. Probes/appends against an
    * `opq` index funnel through this, exactly the [[applyPerm]]
    * discipline: the caller always works in raw space, the index always
    * stores rotated space.
    */
  private def applyRot(df: DataFrame, vecCol: String,
      rot: Option[Array[Array[Double]]]): DataFrame = rot match {
    case None => df
    case Some(r) => df.withColumn(vecCol,
      graft.functions.EmbeddingStats.applyRotation(col(vecCol), r))
  }

  private def rotQuery(query: Seq[Double],
      rot: Option[Array[Array[Double]]]): Seq[Double] = rot match {
    case None => query
    case Some(r) => r.toIndexedSeq.map { row =>
      var s = 0.0; var i = 0
      val n = math.min(row.length, query.length)
      while (i < n) { s += row(i) * query(i); i += 1 }
      s
    }
  }

  /** Each donor replaced by its residual against its own nearest centroid
    * (same argmin + tie-break as assignment — bit-consistent with the SQL
    * oracle). Driver-side over nCodes rows.
    */
  private def residualizeDonors(donors: Array[(Long, Array[Double])],
      centroids: Array[(Long, Array[Double])]): Array[(Long, Array[Double])] =
    donors.map { case (id, v) =>
      (id, Array.tabulate(v.length)(i => v(i) - nearestCentroidVec(v, centroids)(i)))
    }

  private def nearestCentroidVec(v: Array[Double],
      centroids: Array[(Long, Array[Double])]): Array[Double] = {
    var best = Long.MaxValue; var bd = Double.PositiveInfinity
    var bv: Array[Double] = centroids.head._2
    centroids.foreach { case (cid, cv) =>
      val d = sqDistArr(v.toSeq, cv)
      if (d < bd || (d == bd && cid < best)) { bd = d; best = cid; bv = cv }
    }
    bv
  }

  /** Fused assign-subtract-encode for residual indexes: one pass computes
    * the coarse list (exact, or two-level when `assignGroups` > 0 — see
    * [[hierarchicalAssignUdf]]), the residual, and its m codes against
    * the residual codebooks. Returns (list, codes). Fused because a
    * separate assign column would be double-evaluated once Catalyst
    * collapses the projections (deterministic UDFs inline into consumers).
    */
  private def residualEncodeUdf(spark: org.apache.spark.sql.SparkSession,
      centroids: Array[(Long, Array[Double])],
      donorsRes: Array[(Long, Array[Double])],
      m: Int, assignGroups: Int = 0): org.apache.spark.sql.expressions.UserDefinedFunction = {
    val dim = donorsRes.head._2.length
    require(dim % m == 0, s"m=$m must divide dim=$dim")
    val sub = dim / m
    val g = math.max(1, math.round(math.sqrt(centroids.length.toDouble)).toInt)
    def knuth(id: Long): Long =
      (((id % 2147483648L) + 2147483648L) % 2147483648L) * 2654435761L % 4294967296L
    val reps: Array[(Long, Array[Double])] =
      if (assignGroups > 0) centroids.sortBy(c => (knuth(c._1), c._1)).take(g)
      else Array.empty
    val grouped: Map[Long, Array[(Long, Array[Double])]] =
      if (assignGroups > 0) centroids.groupBy { c =>
        var best = Long.MaxValue; var bd = Double.PositiveInfinity
        reps.foreach { case (rid, rv) =>
          val d = sqDistArr(c._2.toSeq, rv)
          if (d < bd || (d == bd && rid < best)) { bd = d; best = rid }
        }
        best
      }
      else Map.empty
    val bcC = spark.sparkContext.broadcast(centroids)
    val bcReps = spark.sparkContext.broadcast(reps)
    val bcGroups = spark.sparkContext.broadcast(grouped)
    val bcD = spark.sparkContext.broadcast(donorsRes)
    udf { (v: Seq[Double]) =>
      var bestC = Long.MaxValue; var bd = Double.PositiveInfinity
      var bv: Array[Double] = bcC.value.head._2
      def scan(cands: Array[(Long, Array[Double])]): Unit =
        cands.foreach { case (cid, cv) =>
          var s = 0.0; var i = 0; val n = math.min(v.length, cv.length)
          while (i < n) { val t = v(i) - cv(i); s += t * t; i += 1 }
          if (s < bd || (s == bd && cid < bestC)) { bd = s; bestC = cid; bv = cv }
        }
      if (assignGroups > 0)
        bcReps.value.map { case (rid, rv) => (sqDistArr(v, rv), rid) }
          .sorted.take(assignGroups)
          .foreach { case (_, rid) =>
            scan(bcGroups.value.getOrElse(rid, Array.empty)) }
      else scan(bcC.value)
      val r = Array.tabulate(v.length)(i => v(i) - bv(i))
      val codes = Array.tabulate(m) { j =>
        var best = -1L; var bdj = Double.PositiveInfinity
        bcD.value.foreach { case (did, dv) =>
          var s = 0.0; var i = 0
          while (i < sub) {
            val t = r(j * sub + i) - dv(j * sub + i); s += t * t; i += 1
          }
          if (s < bdj) { bdj = s; best = did } // donors id-sorted: ties → min id
        }
        best
      }
      (bestC, codes)
    }
  }

  /** Mean squared PQ reconstruction error of `rel`'s vectors against the
    * (frozen) codebooks — the DRIFT statistic recorded in the sidecar per
    * batch: build-time mean as the baseline, then one entry per append.
    * When appended batches stop resembling the training distribution the
    * ratio climbs and a rebuild is observably due (FAISS freezes
    * quantizers on add() the same way and leaves re-train-when to the
    * operator). One extra map-side scan of the relation — O(batch) on
    * appends, never O(corpus).
    */
  private def meanQuantErr(rel: DataFrame, vecCol: String,
      centroids: Array[(Long, Array[Double])],
      donors: Array[(Long, Array[Double])], m: Int,
      residual: Boolean, assignGroups: Int): Double = {
    val spark = rel.sparkSession
    val dim = donors.head._2.length
    val sub = dim / m
    val bcC = spark.sparkContext.broadcast(centroids.toMap)
    val bcD = spark.sparkContext.broadcast(donors)
    val err = udf { (v: Seq[Double], lst: Long) =>
      val base: Array[Double] =
        if (!residual) v.toArray
        else {
          val cv = bcC.value(lst)
          Array.tabulate(v.length)(i => v(i) - cv(i))
        }
      var tot = 0.0; var j = 0
      while (j < m) {
        var bdj = Double.PositiveInfinity
        bcD.value.foreach { case (_, dv) =>
          var s = 0.0; var i = 0
          while (i < sub) {
            val t = base(j * sub + i) - dv(j * sub + i); s += t * t; i += 1
          }
          if (s < bdj) bdj = s
        }
        tot += bdj; j += 1
      }
      tot
    }
    val vcol = col(vecCol).cast("array<double>")
    // residual error needs the row's coarse list; plain-mode error is
    // list-independent (lst unused — pass a constant)
    val lstCol =
      if (!residual) lit(-1L)
      else if (assignGroups > 0)
        hierarchicalAssignUdf(spark, centroids, assignGroups)(vcol)
      else assignByIdUdf(spark, centroids)(vcol)
    rel.filter(col(vecCol).isNotNull)
      .select(err(vcol, lstCol).as("__qe"))
      .agg(avg(col("__qe"))).head().getDouble(0)
  }

  /** Observable health of a persisted IVF-PQ index — sizes plus the drift
    * telemetry: `baseErr` (build-time mean squared PQ reconstruction
    * error) and `appendErrs` (one mean per appended batch, most recent
    * last, capped to the last 64). `driftRatio` compares the latest
    * append to the baseline: a ratio well above 1 means the frozen
    * codebooks no longer fit what's being ingested and a rebuild
    * (re-train) is due. Indexes written before this telemetry existed
    * report `baseErr = NaN` and no history.
    */
  case class IvfPqIndexStats(m: Int, nLists: Int, nCodes: Int, nVecs: Long,
      maxId: Long, residual: Boolean, assignGroups: Int, baseErr: Double,
      appendErrs: Seq[Double]) {
    def driftRatio: Option[Double] =
      appendErrs.lastOption.filter(_ => !baseErr.isNaN && baseErr > 0)
        .map(_ / baseErr)
  }

  def ivfPqIndexStats(spark: org.apache.spark.sql.SparkSession,
      path: String): IvfPqIndexStats = {
    val meta = readIvfPqMeta(spark, path)
    IvfPqIndexStats(meta.m, meta.centroids.length, meta.donors.length,
      meta.nVecs, meta.maxId, meta.residual, meta.assignGroups,
      meta.baseErr, meta.appendErrs)
  }

  private case class IvfPqMeta(m: Int, maxId: Long, nVecs: Long,
      residual: Boolean, assignGroups: Int,
      centroids: Array[(Long, Array[Double])],
      donors: Array[(Long, Array[Double])],
      last: Option[(Long, Long, Long)], lastFp: Option[Long],
      baseErr: Double, appendErrs: Seq[Double],
      perm: Option[Array[Int]],
      rot: Option[Array[Array[Double]]]) {
    def json: String = {
      def enc(arr: Array[(Long, Array[Double])]): String = arr
        .map { case (id, v) => s"""{"id":$id,"v":${v.mkString("[", ",", "]")}}""" }
        .mkString("[", ",", "]")
      val lastJson = last
        .map { case (mn, mx, c) => s""""lastMin":$mn,"lastMax":$mx,"lastN":$c,""" }
        .getOrElse("") +
        lastFp.map(f => s""""lastFp":$f,""").getOrElse("")
      // drift telemetry (NaN baseErr = pre-telemetry index, field omitted)
      val driftJson = (if (baseErr.isNaN) "" else s""""baseErr":$baseErr,""") +
        (if (appendErrs.isEmpty) ""
         else s""""appendErrs":${appendErrs.mkString("[", ",", "]")},""") +
        perm.map(p => s""""perm":${p.mkString("[", ",", "]")},""").getOrElse("") +
        rot.map(r => s""""rot":${r.map(_.mkString("[", ",", "]"))
          .mkString("[", ",", "]")},""").getOrElse("")
      s"""{"m":$m,"nLists":${centroids.length},""" +
        s""""nCodes":${donors.length},"maxId":$maxId,"nVecs":$nVecs,""" +
        s""""residual":$residual,"assignGroups":$assignGroups,$lastJson""" +
        driftJson +
        s""""centroids":${enc(centroids)},"donors":${enc(donors)}}"""
    }
  }

  private object IvfPqMeta {
    def parse(path: String, raw: String): IvfPqMeta = {
      def long(key: String): Long =
        ("\"" + key + "\":(-?[0-9]+)").r.findFirstMatchIn(raw)
          .getOrElse(throw new IllegalStateException(
            s"$path: no '$key' in _ivfpq_meta.json"))
          .group(1).toLong
      val m = long("m").toInt
      def arr(key: String): Array[(Long, Array[Double])] = {
        // entries are {"id":N,"v":[...]} objects; the section runs from its
        // key to the other section's key (or end of file)
        val start = raw.indexOf("\"" + key + "\":")
        require(start >= 0, s"$path: no '$key' in _ivfpq_meta.json")
        val stops = Seq("\"centroids\":", "\"donors\":")
          .map(k2 => raw.indexOf(k2, start + key.length + 3)).filter(_ > start)
        val stop = if (stops.isEmpty) raw.length else stops.min
        "\\{\"id\":(-?[0-9]+),\"v\":\\[([-0-9.,eE]+)\\]\\}".r
          .findAllMatchIn(raw.substring(start, stop))
          .map(mm => (mm.group(1).toLong, mm.group(2).split(",").map(_.toDouble)))
          .toArray
      }
      val centroids = arr("centroids")
      val donors = arr("donors")
      require(centroids.nonEmpty && donors.nonEmpty,
        s"$path: empty centroids/donors in _ivfpq_meta.json")
      val residual = "\"residual\":(true|false)".r.findFirstMatchIn(raw)
        .exists(_.group(1) == "true")
      val assignGroups = "\"assignGroups\":([0-9]+)".r.findFirstMatchIn(raw)
        .map(_.group(1).toInt).getOrElse(0)
      def optLong(key: String): Option[Long] =
        ("\"" + key + "\":(-?[0-9]+)").r.findFirstMatchIn(raw)
          .map(_.group(1).toLong)
      val last = for (mn <- optLong("lastMin"); mx <- optLong("lastMax");
        c <- optLong("lastN")) yield (mn, mx, c)
      val baseErr = "\"baseErr\":([-+0-9.eE]+)".r.findFirstMatchIn(raw)
        .map(_.group(1).toDouble).getOrElse(Double.NaN)
      val appendErrs = "\"appendErrs\":\\[([^\\]]*)\\]".r.findFirstMatchIn(raw)
        .map(_.group(1).trim).filter(_.nonEmpty)
        .map(_.split(",").map(_.toDouble).toSeq).getOrElse(Seq.empty)
      val perm = "\"perm\":\\[([^\\]]*)\\]".r.findFirstMatchIn(raw)
        .map(_.group(1).trim).filter(_.nonEmpty)
        .map(_.split(",").map(_.toInt))
      // rot is a NESTED array — scan from its key to the closing "]]"
      val rot = {
        val key = "\"rot\":[["
        val start = raw.indexOf(key)
        if (start < 0) None
        else {
          val stop = raw.indexOf("]]", start)
          require(stop > start, s"$path: unterminated 'rot' in _ivfpq_meta.json")
          Some(raw.substring(start + key.length, stop)
            .split("\\],\\[").map(_.split(",").map(_.toDouble)))
        }
      }
      IvfPqMeta(m, long("maxId"), long("nVecs"), residual, assignGroups,
        centroids, donors, last, optLong("lastFp"), baseErr, appendErrs, perm,
        rot)
    }
  }

  /** The meta of a readable index — [[IndexStore.readSidecar]]'s
    * refusals (pending marker, mid-swap crash) guard every entry point. */
  private def readIvfPqMeta(spark: org.apache.spark.sql.SparkSession,
      path: String): IvfPqMeta =
    IvfPqMeta.parse(path, ivfPqStore(spark, path).readSidecar())

  /** Append a batch of NEW vectors to a persisted IVF-PQ index with the
    * build-time codebooks FROZEN (the FAISS serving contract: appends
    * assign + encode against the trained quantizers; retraining is a
    * rebuild). One map-side scan of the batch — assign to a coarse list,
    * PQ-encode, append one file per touched list — so rolling ingestion
    * costs O(batch), never O(corpus). Batch ids must continue the
    * monotone sequence (`min(batch) > meta.maxId`), the same
    * never-reuse-ids contract as the signature index. Crash safety: the
    * pending-append marker of [[IndexStore]].
    * A batch holding a vector with a null element is refused with
    * `IllegalArgumentException` before the marker goes down: nothing is
    * written and the index keeps serving.
    */
  def appendToIvfPqIndex(newVecs: DataFrame, idCol: String, vecCol: String,
      path: String): Unit = {
    val spark = newVecs.sparkSession
    require(newVecs.schema(idCol).dataType
        .isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"appendToIvfPqIndex requires a numeric id column: $idCol is " +
        newVecs.schema(idCol).dataType.simpleString)
    val store = ivfPqStore(spark, path)
    val meta = IvfPqMeta.parse(path, store.readSidecarForUpdate())
    val batch = newVecs.filter(col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as(idCol),
        col(vecCol).cast("array<double>").as("__v"))
    // balanced index: the batch joins the index's permuted space here
    val clean = applyRot(applyPerm(batch, "__v", meta.perm), "__v", meta.rot)
    // column 5: the lowest 1-based position of a null slot in any vector
    val nullPos = array_position(transform(col("__v"), _.isNull), true)
    val s = batch.agg(coalesce(min(col(idCol)), lit(Long.MaxValue)),
      coalesce(max(col(idCol)), lit(Long.MinValue)),
      sum(when(col(idCol).isNull, 1).otherwise(0)), count(lit(1)),
      expr(s"bit_xor(xxhash64(`$idCol`))"),
      min(when(nullPos > 0, nullPos))).head()
    if (s.getLong(3) == 0) return // empty batch: nothing to append
    require(s.getLong(2) == 0L,
      s"appendToIvfPqIndex requires numeric ids: ${s.getLong(2)} cast to null")
    // refused before the marker, so the index keeps serving
    require(s.isNullAt(5),
      s"appendToIvfPqIndex: null array element at index ${s.getLong(5) - 1}" +
        " — clean embeddings upstream")
    // replay idempotence (at-least-once foreachBatch sinks): a batch whose
    // exact (minId, maxId, n) AND id fingerprint (xor of id hashes) match
    // the LAST committed append is already fully reflected — no-op so a
    // commit-then-crash restart resumes cleanly; a range match with a
    // different fingerprint, and overlapping-but-unequal ranges, refuse
    val range = (s.getLong(0), s.getLong(1), s.getLong(3))
    val fp = s.getLong(4)
    if (meta.last.contains(range)) {
      if (meta.lastFp.forall(_ == fp)) return
      throw new IllegalStateException(
        s"appendToIvfPqIndex: batch range $range equals the last committed " +
          "append but its id fingerprint differs — not a replay; renumber " +
          "the batch (ids are never reused)")
    }
    require(s.getLong(0) > meta.maxId,
      s"appendToIvfPqIndex requires monotone ids: index maxId=${meta.maxId} " +
        s">= min(batch)=${s.getLong(0)} — renumber (or rebuild the index)")
    // marker FIRST (see scaladoc); list-clustered append: one file per
    // touched list per batch, not tasks×lists. Residual indexes re-use
    // the fused assign-subtract-encode pass (meta.donors ARE residuals).
    store.writeMarker(s.getLong(0), s.getLong(1), s.getLong(3))
    val coded =
      if (meta.residual) {
        val encR = residualEncodeUdf(spark, meta.centroids, meta.donors,
          meta.m, meta.assignGroups)
        clean.select(col(idCol), encR(col("__v")).as("__le"))
          .select(col(idCol), col("__le._1").as("ivf_list"),
            col("__le._2").as("pq_codes"))
      } else {
        val assign: Column => Column =
          if (meta.assignGroups > 0)
            hierarchicalAssignUdf(spark, meta.centroids, meta.assignGroups)(_)
          else assignByIdUdf(spark, meta.centroids)
        val encode = pqEncodeUdf(spark, meta.donors, meta.m)
        clean.select(col(idCol), assign(col("__v")).as("ivf_list"),
          encode(col("__v")).as("pq_codes"))
      }
    // the codes append and the drift-telemetry agg are independent
    // (both derive from `clean`, neither reads the other's output) —
    // overlapped per guide §2.6 (JobPar; marker/meta contract unchanged)
    var batchErr = 0.0
    graft.operators.JobPar.run(
      () => coded.repartition(col("ivf_list"))
        .write.mode("append").partitionBy("ivf_list").parquet(s"$path/codes"),
      () => batchErr = meanQuantErr(clean, "__v", meta.centroids,
        meta.donors, meta.m, meta.residual, meta.assignGroups))
    store.writeSidecar(meta.copy(maxId = s.getLong(1),
      nVecs = meta.nVecs + s.getLong(3), last = Some(range), lastFp = Some(fp),
      appendErrs = (meta.appendErrs :+ batchErr).takeRight(64)).json)
    store.clearMarker()
  }

  /** Rewrite the codes relation so every coarse list holds ONE file again
    * — the maintenance pass for a long-lived rolling index where each
    * append adds a file per touched list, staged as every [[IndexStore]]
    * rewrite.
    *
    * Codes whose lists already hold one file each — e.g. right after
    * [[removeFromIvfPqIndex]] — cost one listing and no job: compaction
    * returns without rewriting or touching the meta, once the
    * pending-marker and stale stash refusals have passed.
    */
  def compactIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit =
    rewriteIvfPqIndex(spark, path, compactOnly = true, identity,
      removed = () => 0L)

  /** Remove vectors from a persisted IVF-PQ index — takedown. Also
    * compacts (same staged rewrite). `nVecs` decrements by the ids
    * ACTUALLY PRESENT in the codes relation, never by |dropIds| (takedown
    * lists routinely carry ids already removed or never indexed; counting
    * requests drifts the stats). `maxId` is never lowered — ids are never
    * reused, so the monotone ingestion contract stays unambiguous.
    */
  def removeFromIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, dropIds: DataFrame, idCol: String): Unit = {
    require(dropIds.schema(idCol).dataType
        .isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"removeFromIvfPqIndex requires a numeric id column: $idCol is " +
        dropIds.schema(idCol).dataType.simpleString)
    val ids = broadcast(
      dropIds.select(col(idCol).cast("long").as("__drop_id")).distinct())
    val live = IndexStore.read(spark, s"$path/codes")
    // the codes relation is exactly (id, pq_codes) partitioned by ivf_list
    val liveIdCol = live.columns.filterNot(Set("ivf_list", "pq_codes")).head
    // present-count agg rides as a THUNK so the rewrite overlaps it with
    // the tmp rewrite (round-20, §2.6 — both only read the live codes);
    // the refuse-to-empty check still precedes the destructive swap
    rewriteIvfPqIndex(spark, path, compactOnly = false,
      rel => rel.join(ids, rel(liveIdCol) === ids("__drop_id"), "left_anti"),
      removed = () => {
        val stats = live
          .join(ids.withColumn("__hit", lit(1)),
            live(liveIdCol) === ids("__drop_id"), "left")
          .agg(count(lit(1)).as("total"),
            sum(coalesce(col("__hit"), lit(0))).as("present")).head()
        val present = stats.getLong(1)
        require(present < stats.getLong(0),
          "removeFromIvfPqIndex would remove every indexed vector — " +
            "delete the index and writeIvfPqIndex a new corpus instead")
        present
      })
  }

  /** The [[IndexStore]] rewrite shared by compaction and removal; the
    * meta keeps everything but nVecs, which drops by `removed`. */
  private def rewriteIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, compactOnly: Boolean, transform: DataFrame => DataFrame,
      removed: () => Long): Unit =
    ivfPqStore(spark, path).rewrite(compactOnly, transform, removed) { (raw, n) =>
      val meta = IvfPqMeta.parse(path, raw)
      meta.copy(nVecs = math.max(0L, meta.nVecs - n)).json
    }

  /** Probe a persisted IVF-PQ index: sidecar codebooks → driver-side
    * probe-list choice → partition-pruned scan of `codes/` (check
    * `PartitionFilters` on `ivf_list` in `.explain`) → broadcast ADC
    * rerank. Per-query cost: nProbe/nLists of an m-bytes-per-row
    * relation + an m×nCodes distance table — independent of corpus dim
    * and (for fixed list sizes) of corpus growth in unprobed lists.
    */
  def ivfPqTopKIndexed(spark: org.apache.spark.sql.SparkSession, path: String,
      idCol: String, rawQuery: Seq[Double], k: Int, nProbe: Int = 4): DataFrame = {
    val meta = readIvfPqMeta(spark, path)
    // balanced/opq index: the query joins the stored space here
    val query = rotQuery(permQuery(rawQuery, meta.perm), meta.rot)
    val probed = nearestListIds(query, meta.centroids, nProbe)
    if (!meta.residual) {
      val codes = IndexStore.read(spark, s"$path/codes")
        .filter(col("ivf_list").isin(probed: _*))
        .select(col(idCol), col("pq_codes"))
      return pqSearchCodes(codes, idCol, meta.donors, query, k, meta.m)
    }
    // residual probe: one ADC table PER PROBED LIST — the query residual
    // against list l is (q − c_l), so a row's m lookups are keyed by its
    // own list. nProbe·m·nCodes entries, driver-built and broadcast.
    val dim = meta.donors.head._2.length
    val sub = dim / meta.m
    val cmap = meta.centroids.toMap
    val table: Map[(Long, Int, Long), Double] = (for {
      lst <- probed
      cv = cmap(lst)
      j <- 0 until meta.m
      (did, dv) <- meta.donors
    } yield {
      var s = 0.0; var i = 0
      while (i < sub) {
        val qi = j * sub + i
        val t = (query(qi) - cv(qi)) - dv(qi); s += t * t; i += 1
      }
      ((lst, j, did), s)
    }).toMap
    val bt = spark.sparkContext.broadcast(table)
    val adc = udf { (lst: Long, cs: Seq[Long]) =>
      var s = 0.0; var j = 0
      while (j < cs.length) { s += bt.value((lst, j, cs(j))); j += 1 }
      s
    }
    IndexStore.read(spark, s"$path/codes")
      .filter(col("ivf_list").isin(probed: _*))
      .select(col(idCol), adc(col("ivf_list"), col("pq_codes")).as("adc"))
      .orderBy(col("adc").asc, col(idCol).asc)
      .limit(k)
  }

  /** k-nearest-neighbor GRAPH: every vector's k most-cosine-similar
    * neighbors — the substrate of embedding clustering, graph-based dedup
    * and diversity sampling. Candidate generation is IVF-restricted
    * (never all-pairs): each vector probes its `nProbe` nearest coarse
    * lists and meets only the vectors ASSIGNED to those lists, so the
    * join is keyed on the list id — one shuffle whose fan-in per vector
    * is nProbe · avgListSize. At growing corpus size, grow `nLists`
    * proportionally to keep list sizes (and per-vector candidate counts)
    * bounded; recall loss is the usual IVF trade (neighbors assigned to
    * unprobed lists are missed).
    *
    * Centroids are the SQL-reproducible hash donors ([[pqDonors]]), so
    * the whole graph has a DuckDB oracle. Output: (id1, id2, cos), UP TO
    * k rows per id1 (fewer when the probed lists hold fewer candidates;
    * a vector alone in its probed lists yields none), ties broken on
    * smaller id2. The per-vector top-k is a window partitioned BY VECTOR
    * — thousands of tiny partitions, never a global sort.
    *
    * `maxListSize` is the HOT-LIST skew guard (the kNN analog of the LSH
    * `maxBucket` cap): when one semantic cluster dominates the corpus, a
    * single coarse list can hold a constant fraction of N and the
    * list-keyed join degrades toward all-pairs WITHIN that list —
    * |probers|·|members| rows. A list larger than the cap keeps only a
    * deterministic hash-sample of `maxListSize` members on the CANDIDATE
    * side (smallest Knuth multiplicative id-hash, ties on id — the same
    * SQL-reproducible sampler as the centroid/donor choice), bounding
    * join fan-in at nProbe·maxListSize candidates per vector, ≤
    * N·nProbe·maxListSize rows total. Every vector still PROBES its
    * lists (all vectors get neighbors); only its visibility as a
    * candidate inside an oversized list is subsampled — the usual
    * bounded-recall trade, in exchange for a join that survives a
    * dominant cluster at 100 TB. Default 10 000 ≫ any balanced list at
    * sane nLists; size nLists so avg list size stays well under it.
    * A vector with a null element is refused: the native nearest-centroid
    * kernel fails the job with `IllegalArgumentException` rather than read
    * the slot as a number.
    */
  def knnGraph(vecs: DataFrame, idCol: String, vecCol: String, k: Int,
      nLists: Int = 16, nProbe: Int = 4,
      maxListSize: Int = 10000): DataFrame = {
    require(k >= 1, s"k $k must be >= 1")
    val edges = knnCandidateEdges(vecs, idCol, vecCol, nLists, nProbe,
      maxListSize)
    Ops.topKPerGroup(edges, Seq("id1"),
      Seq(col("cos").desc, col("id2").asc), k)
  }

  /** Contrastive triplet mining for embedding-model training: for each
    * anchor, the most-similar SAME-label neighbor is the positive and
    * the most-similar DIFFERENT-label neighbor is the HARD negative —
    * the semi-supervised pairing every contrastive/metric-learning
    * recipe (triplet loss, InfoNCE hard negatives) feeds on. Anchors
    * missing either side within the k-NN horizon drop (an anchor with
    * no same-label neighbor in its top-k has no mineable positive).
    *
    * Built ON the [[knnGraph]] candidate machinery, so the pair space
    * is IVF-bucketed (never all-pairs) and inherits its hot-list cap;
    * the label split is two broadcast-joinable id→label lookups plus
    * two argmax cuts per anchor. `margin = pos_cos − neg_cos` (rounded
    * ranks — the cross-engine ranking discipline): a small or negative
    * margin marks exactly the anchors worth training on.
    * A vector with a null element is refused: the native nearest-centroid
    * kernel fails the job with `IllegalArgumentException` rather than read
    * the slot as a number.
    */
  def tripletMining(vecs: DataFrame, idCol: String, vecCol: String,
      labelCol: String, k: Int, nLists: Int = 16, nProbe: Int = 4,
      maxListSize: Int = 10000): DataFrame = {
    val g = knnGraph(vecs, idCol, vecCol, k, nLists, nProbe, maxListSize)
    val lab = vecs.select(col(idCol), col(labelCol))
    // e2 feeds both argmax cuts (positive and hard negative) — an
    // edge-sized localCheckpoint runs the whole kNN candidate machinery
    // once instead of once per cut (round-19, measured)
    val e2 = g
      .join(lab.select(col(idCol).as("id1"), col(labelCol).as("__l1")),
        Seq("id1"))
      .join(lab.select(col(idCol).as("id2"), col(labelCol).as("__l2")),
        Seq("id2"))
      .withColumn("__cr", round(col("cos"), 4))
      .localCheckpoint()
    def best(f: Column, pid: String, pcos: String) =
      Ops.topKPerGroup(e2.filter(f), Seq("id1"),
        Seq(col("__cr").desc, col("id2").asc), 1)
        .select(col("id1"), col("id2").as(pid), col("__cr").as(pcos))
    best(col("__l1") === col("__l2"), "pos_id", "pos_cos")
      .join(best(col("__l1") =!= col("__l2"), "neg_id", "neg_cos"),
        Seq("id1"))
      .select(col("id1").as("anchor"), col("pos_id"), col("neg_id"),
        col("pos_cos"), col("neg_cos"),
        round(col("pos_cos") - col("neg_cos"), 4).as("margin"))
  }

  /** Margin-based bitext mining (Artetxe & Schwenk 2019, the
    * LASER/CCMatrix parallel-corpus alignment step): for every anchor
    * on side A, find its best side-B neighbor and score the pair by a
    * RATIO margin — best cosine over the mean of both ends' top-`k`
    * neighborhoods — which is what separates true translations from
    * hubs that are merely close to everything.
    *
    * Engineering contract, all deliberately exact-integer so the pair
    * relation gates under a SQL oracle:
    *
    *  - candidates come from the [[knnGraph]] IVF machinery — side A
    *    probes `nProbe` hash-centroid lists (centroids drawn from the
    *    FULL relation), side B sits assigned+hot-capped; never
    *    all-pairs;
    *  - cosines land on the 4-dp integer lattice
    *    (`round(cos·10⁴)`), then SHIFT by +10⁴ so the lattice is
    *    non-negative (integer division below is floor on both engines
    *    only for non-negative operands);
    *  - reverse statistics are computed over the forward candidate
    *    relation (the standard practical simplification — no second
    *    probe pass);
    *  - `margin_ppm = (2·10⁶ · s · nA · nB) DIV (sumA·nB + sumB·nA)`
    *    on the shifted lattice — the cross-multiplied exact form of
    *    `s / ((avgA + avgB)/2)` in parts-per-million, order-free.
    *
    * Output: one row per side-A anchor with ≥1 candidate —
    * `(src_id, tgt_id, cos10k, margin_ppm)`, ties broken on
    * (lattice desc, id asc). Filter `margin_ppm` downstream; > 10⁶
    * means "closer than its neighborhoods' average", the usual bar.
    *
    * `sideCol` must hold 0 (anchors, side A) or 1 (candidates,
    * side B).
    * A vector with a null element is refused: the native nearest-centroid
    * kernel fails the job with `IllegalArgumentException` rather than read
    * the slot as a number.
    */
  def bitextMine(vecs: DataFrame, idCol: String, vecCol: String,
      sideCol: String, k: Int = 4, nLists: Int = 16, nProbe: Int = 4,
      maxListSize: Int = 10000): DataFrame = {
    require(k >= 1 && maxListSize >= 1)
    val clean = vecs.filter(col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as(idCol),
        col(vecCol).cast("array<double>").as("__v"), col(sideCol).as("__s"))
    val centroids = pqDonors(clean, idCol, "__v", nLists)
    // native probe/assign kernels — see knnCandidateEdges (round-20)
    val a = clean.filter(col("__s") === 0)
      .select(col(idCol).as("id1"), col("__v").as("__v1"),
        explode(graft.expr.GraftExpressions.nearestCentroidIds(
          col("__v"), centroids, nProbe)).as("__lst"))
    val bAll = clean.filter(col("__s") === 1)
      .select(col(idCol).as("id2"), col("__v").as("__v2"),
        graft.expr.GraftExpressions.nearestCentroidId(col("__v"), centroids)
          .as("__lst"))
    val idHash = pmod(pmod(col("id2"), lit(2147483648L)) * 2654435761L,
      lit(4294967296L))
    val b = Ops.topKPerGroup(bAll, Seq("__lst"),
      Seq(idHash.asc, col("id2").asc), maxListSize)
    val pairs = a.join(b, Seq("__lst"))
      .select(col("id1"), col("id2"),
        (round(VectorFns.cosine(col("__v1"), col("__v2")) * 10000, 0)
          .cast("long") + 10000L).as("__s10k"))
    def kstats(key: String, sumName: String, nName: String) =
      Ops.topKPerGroup(pairs, Seq(key),
          Seq(col("__s10k").desc,
            col(if (key == "id1") "id2" else "id1").asc), k)
        .groupBy(col(key))
        .agg(sum(col("__s10k")).as(sumName),
          count(lit(1)).as(nName))
    val best = Ops.topKPerGroup(pairs, Seq("id1"),
      Seq(col("__s10k").desc, col("id2").asc), 1)
    best
      .join(kstats("id1", "__sumA", "__nA"), Seq("id1"))
      .join(kstats("id2", "__sumB", "__nB"), Seq("id2"))
      .select(col("id1").as("src_id"), col("id2").as("tgt_id"),
        (col("__s10k") - 10000L).as("cos10k"),
        expr("CAST((2000000 * __s10k * __nA * __nB) DIV " +
          "greatest(__sumA * __nB + __sumB * __nA, 1) AS BIGINT)")
          .as("margin_ppm"))
  }

  /** The scored candidate-edge relation behind [[knnGraph]], pre-top-k —
    * package-visible so specs can assert the hot-list cap bounds the
    * candidate count itself, not just the k-cut output.
    */
  private[graft] def knnCandidateEdges(vecs: DataFrame, idCol: String,
      vecCol: String, nLists: Int, nProbe: Int,
      maxListSize: Int): DataFrame = {
    require(maxListSize >= 1, s"maxListSize $maxListSize must be >= 1")
    val clean = vecs.filter(col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as(idCol),
        col(vecCol).cast("array<double>").as("__v"))
    val centroids = pqDonors(clean, idCol, "__v", nLists)
    // probe and assignment are ONE native codegen'd kernel each
    // (round-20; guide §1.2 "per-task work" + VERDICT r19 item 5): the
    // interpreted UDF pair re-entered the interpreter and converted the
    // vector to Seq[Double] once per row per side
    val left = clean.select(col(idCol).as("id1"), col("__v").as("__v1"),
      explode(graft.expr.GraftExpressions.nearestCentroidIds(
        col("__v"), centroids, nProbe)).as("__lst"))
    // each candidate sits in exactly ONE list, so a (id1, id2) pair can
    // match at most once — no dedup needed after the join
    val assigned = clean.select(col(idCol).as("id2"), col("__v").as("__v2"),
      graft.expr.GraftExpressions.nearestCentroidId(col("__v"), centroids)
        .as("__lst"))
    // hot-list cap: per-list top-maxListSize by the Knuth id-hash (see
    // scaladoc). The rank window partitions BY LIST and shuffles on the
    // same key the join needs — one extra in-partition sort, no extra
    // exchange shape.
    val idHash = pmod(pmod(col("id2"), lit(2147483648L)) * 2654435761L,
      lit(4294967296L))
    val right = Ops.topKPerGroup(assigned, Seq("__lst"),
      Seq(idHash.asc, col("id2").asc), maxListSize)
    left.join(right, Seq("__lst"))
      .filter(col("id1") =!= col("id2"))
      .select(col("id1"), col("id2"),
        VectorFns.cosine(col("__v1"), col("__v2")).as("cos"))
  }

  /** Embedding CLUSTERING: connected components over the thresholded
    * [[knnGraph]] — the topic/near-dup cluster discovery pass of corpus
    * curation (cluster-then-sample diversity filtering, semantic dedup at
    * cluster granularity). An edge survives when cos >= `minCos`; the
    * cluster label is the component's smallest member id; vectors with no
    * surviving edge are singleton clusters under their own id, so the
    * output covers EVERY non-null vector exactly once. Cost = the kNN
    * graph + pointer-jumping CC over |edges| ≤ k·N rows — never the
    * all-pairs similarity relation.
    * A vector with a null element is refused: the native nearest-centroid
    * kernel fails the job with `IllegalArgumentException` rather than read
    * the slot as a number.
    */
  def clusterEmbeddings(vecs: DataFrame, idCol: String, vecCol: String,
      k: Int, minCos: Double, nLists: Int = 16,
      nProbe: Int = 4, maxListSize: Int = 10000): DataFrame = {
    val ids = vecs.filter(col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as(idCol))
    val edges = knnGraph(vecs, idCol, vecCol, k, nLists, nProbe, maxListSize)
      .filter(col("cos") >= minCos)
    val comps = Dedup.connectedComponents(edges, "id1", "id2")
    ids.join(comps, ids(idCol) === comps("id"), "left")
      .select(col(idCol), coalesce(col("comp"), col(idCol)).as("cluster"))
  }

  /** Balanced-PQ dimension permutation (OPQ-lite, cf. Ge et al. 2013:
    * where OPQ learns a rotation, this deals dimensions round-robin so
    * each subspace gets an even share of the spread): dims ranked by
    * their RANGE (max − min — chosen over variance because max/min are
    * order-independent and bit-exact across engines, keeping the
    * permutation SQL-reproducible), position r of the permuted vector is
    * the r-th-widest dim. With all wide dims in one subspace a plain
    * split burns the whole codebook on it; dealt out, every subspace
    * quantizes ~one wide dim (spec-quantified error cut). One
    * posexplode agg at build time; the permutation itself is a literal
    * array of `getItem`s — codegen, no UDF.
    *
    * The deal: rank-r dim (0-based, widest first) goes to PERMUTED
    * position `(r % m)·sub + r/m` — subspace r % m — so consecutive
    * ranks land in DIFFERENT subspaces (a plain range-sort would
    * re-concentrate the wide dims into the first subspaces).
    */
  def pqBalancedPerm(vecs: DataFrame, idCol: String, vecCol: String,
      m: Int): Array[Int] = {
    val clean = vecs.filter(col(vecCol).isNotNull)
      .select(col(vecCol).cast("array<double>").as("__v"))
    val ranges = clean
      .select(posexplode(col("__v")).as(Seq("d", "x")))
      .groupBy(col("d")).agg(max(col("x")).as("mx"), min(col("x")).as("mn"))
      .collect().map(r => (r.getInt(0), r.getDouble(1) - r.getDouble(2)))
    val order = ranges.sortBy { case (d, rg) => (-rg, d) }.map(_._1)
    val dim = order.length
    require(dim % m == 0, s"m=$m must divide dim=$dim")
    val sub = dim / m
    val perm = new Array[Int](dim)
    for (r <- 0 until dim) perm((r % m) * sub + r / m) = order(r)
    perm
  }

  /** One-shot PQ top-k over the balanced permutation: permute (literal
    * projection), then the standard donor/encode/ADC machinery on the
    * permuted relation — donors keep their hash-selected ids, the query
    * permutes driver-side. The persisted-index equivalent is
    * [[writeIvfPqIndex]] with `balanced = true`, which stores `perm` in
    * the sidecar and permutes probes/appends on the way in.
    */
  def pqTopKBalanced(vecs: DataFrame, idCol: String, vecCol: String,
      query: Seq[Double], k: Int, m: Int = 8,
      nCodes: Int = 16): DataFrame = {
    val perm = pqBalancedPerm(vecs, idCol, vecCol, m)
    val clean = vecs.filter(col(vecCol).isNotNull)
      .select(col(idCol), col(vecCol).cast("array<double>").as("__v"))
    val pvecs = clean.select(col(idCol),
      array(perm.map(i => col("__v").getItem(i)).toIndexedSeq: _*).as("__pv"))
    val donors = pqDonors(pvecs, idCol, "__pv", nCodes)
    val qp: Seq[Double] = perm.toIndexedSeq.map(query(_))
    pqSearchCodes(pqEncode(pvecs, idCol, "__pv", donors, m), idCol, donors,
      qp, k, m)
  }

  /** Semantic dedup at cluster granularity (the SemDeDup recipe, Abbas et
    * al. 2023: cluster embeddings, keep few representatives per cluster —
    * prunes paraphrase-level redundancy whole-document MinHash misses):
    * [[clusterEmbeddings]] labels every vector, then each cluster keeps
    * its `keepPerCluster` best members. Output is the kept (id, cluster)
    * relation — semi-join the corpus on it. Cost = the kNN graph + CC +
    * one cluster-keyed window; singletons always survive.
    *
    * Keep policy: by default the smallest ids (deterministic). The
    * PUBLISHED SemDeDup recipe keeps by a score (centroid distance,
    * quality): pass `keepByCol` — a numeric column of `vecs` — and each
    * cluster keeps its `keepPerCluster` HIGHEST-scoring members (ties on
    * smaller id), the same keep-best shape as
    * [[graft.operators.Dedup.dedupCorpusTransitiveBy]].
    */
  /** [[semDedup]] with the PUBLISHED keep policy derived for the caller:
    * SemDeDup (Abbas et al. 2023 §2) keeps, within each cluster, the
    * examples with the LOWEST cosine similarity to the cluster centroid
    * (the farthest-from-center members carry the cluster's diversity;
    * the near-center ones are the semantic redundancy being pruned).
    * `keepByCol` forces callers to compute that score; this derives it:
    * the cluster centroid is the element-wise mean of the cluster's own
    * embeddings (the labels already exist from [[clusterEmbeddings]]),
    * and each cluster keeps its `keepPerCluster` lowest-cos members
    * (ties → smaller id). `keepClosest = true` flips to the
    * prototype-keeping variant.
    *
    * Cost on top of [[semDedup]]: one (cluster, dim)-keyed mean — a
    * posexplode'd aggregation whose shuffle is corpus×dim rows of three
    * scalar columns, map-side-combined down to #clusters×dim — plus the
    * same id-keyed score join the `keepByCol` path pays. Nothing
    * driver-side, no new skew shape (the dim key fans the hot cluster's
    * rows across `dim` reducers).
    * A vector with a null element is refused: the native nearest-centroid
    * kernel fails the job with `IllegalArgumentException` rather than read
    * the slot as a number.
    */
  def semDedupByCentroid(vecs: DataFrame, idCol: String, vecCol: String,
      k: Int, minCos: Double, keepPerCluster: Int = 1, nLists: Int = 16,
      nProbe: Int = 4, maxListSize: Int = 10000,
      keepClosest: Boolean = false): DataFrame = {
    require(keepPerCluster >= 1, s"keepPerCluster $keepPerCluster must be >= 1")
    val labeled = clusterEmbeddings(vecs, idCol, vecCol, k, minCos,
      nLists, nProbe, maxListSize)
    val clean = vecs.filter(col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as(idCol),
        col(vecCol).cast("array<double>").as("__v"))
    val member = labeled.join(clean, Seq(idCol))
    val centroids = member
      .select(col("cluster"), posexplode(col("__v")).as(Seq("__d", "__x")))
      .groupBy(col("cluster"), col("__d")).agg(avg(col("__x")).as("__m"))
      .groupBy(col("cluster"))
      .agg(array_sort(collect_list(struct(col("__d"), col("__m"))))
        .getField("__m").as("__c"))
    val scored = member.join(centroids, Seq("cluster"))
      .withColumn("__cos",
        graft.functions.VectorFns.cosine(col("__v"), col("__c")))
    val order =
      if (keepClosest) Seq(col("__cos").desc, col(idCol).asc)
      else Seq(col("__cos").asc, col(idCol).asc)
    Ops.topKPerGroup(scored, Seq("cluster"), order, keepPerCluster)
      .select(col(idCol), col("cluster"))
  }

  /** LEAKAGE-SAFE train/validation split: the split decision is made per
    * near-dup CLUSTER, not per document, so a validation example can
    * never have a near-duplicate in the training set (the contamination
    * mode that silently inflates eval scores — same failure class as
    * benchmark decontamination, but within the corpus itself).
    * [[clusterEmbeddings]] labels every vector; the cluster label (the
    * component's smallest member id) hashes through the same
    * SQL-reproducible Knuth multiplicative hash used everywhere else,
    * and `valPermille` thousandths of clusters land in "val". Output:
    * (id, cluster, split). Deterministic — no seed, no RNG; rerunning
    * on the SAME corpus reproduces the split exactly.
    *
    * NOT stable under corpus growth: the label is the component's
    * smallest member id, so an appended document that bridges two
    * clusters (or simply joins one with a lower id) relabels the merged
    * component and the whole cluster can flip train↔val on the next run.
    * For incremental refreshes persist each run's (id, label) relation
    * and use [[leakageSafeSplitStable]], which pins unchanged clusters
    * to their prior side; only genuine merges can move documents (and a
    * merged cluster MUST land on one side — that is the leakage
    * guarantee itself, not an implementation choice).
    *
    * Scale shape: the kNN graph + CC dominate (both bounded, see
    * [[knnGraph]]); the split itself is a map-side hash on the label.
    */
  def leakageSafeSplit(vecs: DataFrame, idCol: String, vecCol: String,
      k: Int, minCos: Double, valPermille: Int, nLists: Int = 16,
      nProbe: Int = 4, maxListSize: Int = 10000): DataFrame = {
    require(valPermille >= 0 && valPermille <= 1000,
      s"valPermille $valPermille must be in [0, 1000]")
    val labeled = clusterEmbeddings(vecs, idCol, vecCol, k, minCos,
      nLists, nProbe, maxListSize)
    labeled.withColumn("split",
      when(pmod(pmod(col("cluster"), lit(2147483648L)) * 2654435761L,
        lit(4294967296L)) % 1000 < valPermille, lit("val"))
        .otherwise(lit("train")))
  }

  /** [[leakageSafeSplit]] with label stability across corpus refreshes:
    * `priorLabels` is the PREVIOUS run's (id, label) relation (any extra
    * columns ignored); each fresh cluster adopts the smallest prior label
    * held by any of its members, falling back to its fresh label (the
    * smallest member id) for clusters containing no previously-seen
    * document. The split hashes the ADOPTED label, so:
    *
    *  - a cluster whose membership is unchanged keeps its side, even when
    *    a new lower-id document joins it (the case that silently flips
    *    the plain variant);
    *  - a genuine merge of two prior clusters lands on the side of the
    *    SMALLEST prior label — deterministic, and unavoidable: near-dup
    *    documents must not straddle the split, so one side has to move.
    *
    * Output: (id, cluster, label, split); persist (id, label) and feed it
    * back as `priorLabels` next refresh. The adoption step is one
    * cluster-keyed min over a broadcast-or-shuffle id-equi-join — no new
    * skew shape on top of the bounded kNN + CC.
    */
  def leakageSafeSplitStable(vecs: DataFrame, idCol: String,
      vecCol: String, k: Int, minCos: Double, valPermille: Int,
      priorLabels: DataFrame, nLists: Int = 16, nProbe: Int = 4,
      maxListSize: Int = 10000): DataFrame = {
    require(valPermille >= 0 && valPermille <= 1000,
      s"valPermille $valPermille must be in [0, 1000]")
    // labeled feeds BOTH the adoption agg and the final join — an
    // id-sized localCheckpoint runs the kNN+CC labeling once (round-19;
    // Catalyst shares nothing across the two consumers)
    val labeled = clusterEmbeddings(vecs, idCol, vecCol, k, minCos,
      nLists, nProbe, maxListSize).localCheckpoint()
    val prior = priorLabels.select(col(idCol).cast("long").as(idCol),
      col("label").cast("long").as("__prior"))
    val adopted = labeled.join(prior, Seq(idCol), "left")
      .groupBy(col("cluster"))
      .agg(min(col("__prior")).as("__adopted"))
    labeled.join(adopted, Seq("cluster"))
      .withColumn("label", coalesce(col("__adopted"), col("cluster")))
      .withColumn("split",
        when(pmod(pmod(col("label"), lit(2147483648L)) * 2654435761L,
          lit(4294967296L)) % 1000 < valPermille, lit("val"))
          .otherwise(lit("train")))
      .select(col(idCol), col("cluster"), col("label"), col("split"))
  }

  /** Recall@k of an approximate top-k relation against the exact one —
    * the evaluation loop that tunes nProbe/nLists/maxListSize: both
    * inputs are (queryId, id) relations (extra columns ignored), output
    * is one row per query in `exact` with `recall` = |approx ∩ exact| /
    * k. Queries missing from `approx` entirely score 0 rather than
    * disappearing (an ANN bug that drops a query must not flatter the
    * average). One semi-join + one count per query — no vector math
    * here; feed it any pair of [[bruteForceTopK]]-shaped outputs.
    */
  def recallAtK(approx: DataFrame, exact: DataFrame, qIdCol: String,
      idCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k $k must be >= 1")
    val a = approx.select(col(qIdCol).cast("long").as("__q"),
      col(idCol).cast("long").as("__i"))
    val e = exact.select(col(qIdCol).cast("long").as("__q"),
      col(idCol).cast("long").as("__i"))
    val hits = e.join(a, Seq("__q", "__i"), "left_semi")
      .groupBy(col("__q")).agg(count(lit(1)).as("__hits"))
    e.select(col("__q")).distinct()
      .join(hits, Seq("__q"), "left")
      .select(col("__q").as(qIdCol),
        (coalesce(col("__hits"), lit(0L)) / k.toDouble).as("recall"))
  }

  /** Greedy k-center sample (farthest-first traversal, Gonzalez 1985) —
    * the DIVERSITY sampler: picks k maximally-spread vectors, the
    * standard coreset/eval-set construction next to the hash samplers
    * ([[graft.operators.Curation]]) which are distribution-preserving,
    * not spread-maximizing. Classic guarantee: the picked set's covering
    * radius is within 2× of the optimal k-center radius.
    *
    * Scale shape: a running min-distance-to-nearest-center column
    * updated over k rounds — O(k·N·d) total kernel work, each round one
    * broadcast center + one TakeOrdered(1), with the state relation
    * localCheckpointed per round so lineage stays flat (the CC-loop
    * discipline). k is driver-bounded by contract (every center is
    * collected and broadcast into the next round's comparator).
    *
    * COST TO KNOW BEFORE CALLING: each round's localCheckpoint
    * MATERIALIZES the surviving working set to executor storage — the
    * operator writes ≈ k × |corpus| rows of (id, vec, dmin) over its
    * lifetime, so a raw-corpus call costs k corpus-sized
    * materializations (visible in the storage tab, deliberate: it is
    * what keeps round N's plan O(1) deep instead of O(N)). That is the
    * designed trade for a BOUNDED input — run it on a shard, not the
    * corpus: [[kCenterPreShard]] is the standard one-liner front end,
    * and diversity over a deterministic hash shard is the published
    * coreset practice (spread is estimated, not exact, once sharded).
    *
    * Deterministic and SQL-reproducible: seed = smallest Knuth-hash id
    * (the engine-wide sampler) unless `seedId` pins it; every argmax
    * ties on the smaller id. Output: (pick, id, radius) where radius =
    * L2 distance from pick i to its nearest earlier center — the
    * k-center cost curve, non-increasing in i; 0 for the seed. Stops
    * early (fewer than k rows) when the corpus is exhausted.
    */
  /** Deterministic pre-shard for [[kCenterSample]] (and any other
    * bounded-input sampler): the `n` rows with the smallest engine-wide
    * Knuth hash of the id — a fixed-size reservoir that is a pure
    * function of the id set, so re-runs and engines agree. One
    * TakeOrderedAndProject (per-partition top-n + merge): no shuffle of
    * the corpus, no full sort, no materialization. `n` is capped so the
    * result stays a sane kCenter working set.
    */
  def kCenterPreShard(vecs: DataFrame, idCol: String, n: Int): DataFrame = {
    require(n >= 1 && n <= 10000000,
      s"kCenterPreShard n $n must be in [1, 1e7]")
    vecs.orderBy(
      pmod(pmod(col(idCol).cast("long"), lit(2147483648L)) * 2654435761L,
        lit(4294967296L)), col(idCol))
      .limit(n)
  }

  def kCenterSample(vecs: DataFrame, idCol: String, vecCol: String,
      k: Int, seedId: Option[Long] = None): DataFrame = {
    require(k >= 1 && k <= 256,
      s"kCenterSample k $k must be in [1, 256] — every center is " +
        "driver-collected and broadcast; sample a shard first for more")
    val spark = vecs.sparkSession
    import spark.implicits._
    val clean = vecs.filter(col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as("__id"),
        col(vecCol).cast("array<double>").as("__v"))
    val seedRow = (seedId match {
      case Some(id) => clean.filter(col("__id") === id)
      case None => clean.orderBy(
        pmod(pmod(col("__id"), lit(2147483648L)) * 2654435761L,
          lit(4294967296L)), col("__id"))
    }).limit(1).collect()
    require(seedRow.nonEmpty, "kCenterSample: empty corpus or absent seed id")
    val seed = (seedRow(0).getLong(0), seedRow(0).getSeq[Double](1).toArray)
    // same ascending-j squared-L2 loop as VectorFns.l2Kernel, so the
    // DuckDB oracle's list_reduce mirrors it term-for-term
    def d2To(c: Array[Double]) = udf { (v: Seq[Double]) =>
      var s = 0.0; var i = 0; val n = math.min(v.length, c.length)
      while (i < n) { val t = v(i) - c(i); s += t * t; i += 1 }
      s
    }
    val picks =
      scala.collection.mutable.ArrayBuffer[(Int, Long, Double)](
        (0, seed._1, 0.0))
    var state = clean.filter(col("__id") =!= seed._1)
      .withColumn("__dmin", d2To(seed._2)(col("__v")))
      .localCheckpoint(true)
    var i = 1
    var exhausted = false
    while (i < k && !exhausted) {
      val top = state.orderBy(col("__dmin").desc, col("__id").asc)
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val id = top(0).getLong(0)
        val v = top(0).getSeq[Double](1).toArray
        picks += ((i, id, math.sqrt(top(0).getDouble(2))))
        val old = state
        state = state.filter(col("__id") =!= id)
          .withColumn("__dmin", least(col("__dmin"), d2To(v)(col("__v"))))
          .localCheckpoint(true)
        old.unpersist(blocking = false)
        i += 1
      }
    }
    state.unpersist(blocking = false)
    picks.toSeq.toDF("pick", idCol, "radius")
  }

  /** Maximal Marginal Relevance selection (Carbonell & Goldstein
    * 1998) — the DIVERSIFIED top-k: greedily pick the vector
    * maximizing `λ·rel − (1−λ)·max_cos_to_selected`, where `rel` is
    * the cosine to the probe vector. Next to [[kCenterSample]] (pure
    * spread, no query) this is the query-AWARE diversity sampler —
    * the dedup-at-selection-time retrieval pipelines run between ANN
    * and the prompt.
    *
    * λ must be exactly representable in binary (0.5, 0.25, 0.75…):
    * `λ·rel − (1−λ)·smax` then replays bit-for-bit in the oracle —
    * identical IEEE ops in the same order, the q137/q134 discipline —
    * which a 0.7 would break in the last ulp. Same scale shape and
    * cost note as [[kCenterSample]]: k driver-bounded rounds, each one
    * broadcast comparator + one TakeOrdered(1), the working set
    * localCheckpointed per round (≈ k corpus-sized materializations —
    * run it on the ANN candidate set or a [[kCenterPreShard]] shard,
    * not the raw corpus). Zero-norm vectors are excluded (cosine
    * undefined). Output: `(pick, id, score)` with `score` the marginal
    * objective at pick time (pick 0 reports its raw relevance); ties
    * break on the smaller id.
    */
  def mmrSelect(vecs: DataFrame, idCol: String, vecCol: String,
      query: Array[Double], k: Int, lambda: Double = 0.5): DataFrame = {
    require(k >= 1 && k <= 256, s"mmrSelect k $k must be in [1, 256]")
    require(lambda > 0 && lambda < 1 &&
      (lambda * 4096).isWhole,
      s"lambda $lambda must be in (0,1) and exact in binary " +
        "(a multiple of 1/4096) so the oracle replays bit-for-bit")
    require(query.nonEmpty, "empty query vector")
    val spark = vecs.sparkSession
    import spark.implicits._
    val qn = math.sqrt(query.map(x => x * x).sum)
    require(qn > 0, "zero-norm query vector")
    // ascending-j kernels so the oracle's list_reduce mirrors term-
    // for-term (the kCenterSample discipline)
    def cosTo(c: Array[Double], cn: Double) = udf { (v: Seq[Double]) =>
      var dot = 0.0; var nv = 0.0; var i = 0
      val n = math.min(v.length, c.length)
      while (i < n) { dot += v(i) * c(i); i += 1 }
      i = 0
      while (i < v.length) { nv += v(i) * v(i); i += 1 }
      if (nv == 0.0) Double.NaN else dot / (math.sqrt(nv) * cn)
    }
    val clean = vecs.filter(col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as("__id"),
        col(vecCol).cast("array<double>").as("__v"))
      .withColumn("__rel", cosTo(query, qn)(col("__v")))
      .filter(!isnan(col("__rel")))
    val first = clean.orderBy(col("__rel").desc, col("__id").asc)
      .limit(1).collect()
    require(first.nonEmpty, "mmrSelect: empty corpus")
    val picks = scala.collection.mutable.ArrayBuffer[(Int, Long, Double)](
      (0, first(0).getLong(0), first(0).getDouble(2)))
    var center = first(0).getSeq[Double](1).toArray
    var cnorm = math.sqrt(center.map(x => x * x).sum)
    var state = clean.filter(col("__id") =!= first(0).getLong(0))
      .withColumn("__smax", cosTo(center, cnorm)(col("__v")))
      .localCheckpoint(true)
    var i = 1
    var exhausted = false
    while (i < k && !exhausted) {
      val score = lit(lambda) * col("__rel") -
        lit(1.0 - lambda) * col("__smax")
      val top = state.withColumn("__score", score)
        .orderBy(col("__score").desc, col("__id").asc).limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val id = top(0).getLong(0)
        picks += ((i, id, top(0).getAs[Double]("__score")))
        center = top(0).getSeq[Double](1).toArray
        cnorm = math.sqrt(center.map(x => x * x).sum)
        val old = state
        state = state.filter(col("__id") =!= id)
          .withColumn("__smax",
            greatest(col("__smax"), cosTo(center, cnorm)(col("__v"))))
          .localCheckpoint(true)
        old.unpersist(blocking = false)
        i += 1
      }
    }
    state.unpersist(blocking = false)
    picks.toSeq.toDF("pick", idCol, "score")
  }

  def semDedup(vecs: DataFrame, idCol: String, vecCol: String, k: Int,
      minCos: Double, keepPerCluster: Int = 1, nLists: Int = 16,
      nProbe: Int = 4, maxListSize: Int = 10000,
      keepByCol: Option[String] = None): DataFrame = {
    require(keepPerCluster >= 1, s"keepPerCluster $keepPerCluster must be >= 1")
    val labeled = clusterEmbeddings(vecs, idCol, vecCol, k, minCos,
      nLists, nProbe, maxListSize)
    keepByCol match {
      case None =>
        Ops.topKPerGroup(labeled, Seq("cluster"), Seq(col(idCol).asc),
          keepPerCluster)
      case Some(s) =>
        require(vecs.schema(s).dataType
            .isInstanceOf[org.apache.spark.sql.types.NumericType],
          s"semDedup keepByCol requires a numeric column: $s is " +
            vecs.schema(s).dataType.simpleString)
        // scores ride a plain id-keyed equi-join (corpus-sized, no skew —
        // ids are unique on both sides)
        val scores = vecs.filter(col(vecCol).isNotNull)
          .select(col(idCol).cast("long").as(idCol),
            col(s).cast("double").as("__keep_score"))
        Ops.topKPerGroup(labeled.join(scores, Seq(idCol)), Seq("cluster"),
            Seq(col("__keep_score").desc, col(idCol).asc), keepPerCluster)
          .drop("__keep_score")
    }
  }

  /** Two-stage probe with EXACT rerank (the FAISS refine/IVFPQR serving
    * pattern, Jégou et al. 2011 §V): stage 1 shortlists `k·refine`
    * candidates by ADC from the compressed codes (the usual
    * partition-pruned scan + broadcast table); stage 2 re-scores ONLY
    * the shortlist against the ORIGINAL vector relation and returns
    * exact squared distances. Quantization error then affects RECALL
    * only (a true neighbor can miss the shortlist) — never the returned
    * metric or its order.
    *
    * The exact leg pushes `id IN (shortlist)` into the vector relation's
    * scan (`PushedFilters: In(...)` — row-group pruning does the rest
    * when the corpus is id-sorted/bucketed, the layout TESTDATA ships).
    * Shortlist size is driver-bounded by contract: k·refine ≤ 65 536.
    */
  def ivfPqTopKRefined(spark: org.apache.spark.sql.SparkSession,
      path: String, idCol: String, vecs: DataFrame, vecCol: String,
      query: Seq[Double], k: Int, nProbe: Int = 4,
      refine: Int = 4): DataFrame = {
    require(k >= 1, s"k $k must be >= 1")
    require(refine >= 1, s"refine $refine must be >= 1")
    require(k.toLong * refine <= 65536,
      s"ivfPqTopKRefined: shortlist k*refine = ${k.toLong * refine} " +
        "exceeds the driver-bounded ceiling 65536 — lower k or refine")
    val shortIds: Array[Long] =
      ivfPqTopKIndexed(spark, path, idCol, query, k * refine, nProbe)
        .select(col(idCol)).collect().map(_.getLong(0))
    val q = query.toArray
    val dist = udf { (v: Seq[Double]) =>
      var s = 0.0; var i = 0; val n = math.min(v.length, q.length)
      while (i < n) { val t = v(i) - q(i); s += t * t; i += 1 }
      s
    }
    vecs.filter(col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as(idCol),
        col(vecCol).cast("array<double>").as("__v"))
      .filter(col(idCol).isin(shortIds.toIndexedSeq: _*))
      .select(col(idCol), dist(col("__v")).as("dist"))
      .orderBy(col("dist").asc, col(idCol).asc)
      .limit(k)
  }

  /** Per-list occupancy of a persisted IVF-PQ index: (ivf_list, n) for
    * every coarse list, from parquet partition metadata — no code bytes
    * decoded. This is the HOT-LIST detector feeding [[knnGraph]]'s
    * `maxListSize` choice and the "raise nLists?" maintenance decision:
    * max(n)/avg(n) ≫ 1 is exactly the skew shape the cap guards
    * against.
    */
  def ivfPqListStats(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame =
    IndexStore.read(spark, s"$path/codes")
      .groupBy(col("ivf_list").cast("long").as("ivf_list"))
      .agg(count(lit(1)).as("n"))

  /** The automated maintenance decision for a persisted IVF-PQ index —
    * wires the two telemetry streams ([[ivfPqListStats]] occupancy skew,
    * [[ivfPqIndexStats]] codebook drift) into one verdict instead of
    * leaving the operator to eyeball them:
    *
    *   - `driftTrigger`: the latest appended batch's mean reconstruction
    *     error exceeds `driftThreshold` × the build-time baseline — the
    *     frozen codebooks no longer fit the ingested distribution, and
    *     recall is decaying. Action: REBUILD (re-train quantizers); no
    *     amount of list surgery fixes stale codebooks.
    *   - `skewTrigger`: max(listSize) / avg(listSize) exceeds
    *     `skewThreshold` — one semantic cluster dominates and every probe
    *     or kNN-graph join touching the hot list degrades toward
    *     all-pairs within it. Action: REBALANCE — rebuild with more
    *     lists, and until then cap candidate fan-in (the suggested
    *     `knnGraph(maxListSize = ceil(skewThreshold × avg))` keeps cold
    *     lists untouched while bounding the hot one).
    *
    * Drift dominates when both fire (a rebuild re-trains the coarse
    * quantizer too, which is what rebalancing is). Cost: one
    * partition-metadata-only scan of `codes/` plus the sidecar read —
    * safe to run after every append at any corpus size.
    */
  case class IvfPqMaintenance(skewTrigger: Boolean, driftTrigger: Boolean,
      action: String, skewRatio: Double, maxList: Long, avgList: Double,
      driftRatio: Option[Double], suggestedMaxListSize: Option[Long])

  def maintenanceDue(spark: org.apache.spark.sql.SparkSession, path: String,
      skewThreshold: Double = 8.0,
      driftThreshold: Double = 4.0): IvfPqMaintenance = {
    require(skewThreshold > 1.0, s"skewThreshold $skewThreshold must be > 1")
    require(driftThreshold > 1.0, s"driftThreshold $driftThreshold must be > 1")
    val st = ivfPqIndexStats(spark, path)
    val occ = ivfPqListStats(spark, path)
      .agg(coalesce(max(col("n")), lit(0L)),
        coalesce(sum(col("n")), lit(0L))).head()
    val maxList = occ.getLong(0)
    // averaged over DECLARED lists, not occupied ones: a dominant cluster
    // that empties the other lists is exactly the skew being detected
    val avgList = occ.getLong(1).toDouble / math.max(1, st.nLists)
    val skewRatio = if (avgList > 0) maxList / avgList else 0.0
    val skew = skewRatio > skewThreshold
    val drift = st.driftRatio.exists(_ > driftThreshold)
    val action =
      if (drift) "rebuild-retrain"
      else if (skew) "rebalance-lists"
      else "none"
    IvfPqMaintenance(skew, drift, action, skewRatio, maxList, avgList,
      st.driftRatio,
      if (skew) Some(math.ceil(skewThreshold * avgList).toLong) else None)
  }

  /** BATCHED probe of a persisted IVF-PQ index: score a bounded RELATION
    * of queries (an eval/rerank batch, driver-collectable by contract) in
    * ONE scan of the union of all probed lists — instead of one Spark job
    * per query. Each code row explodes into one ADC score per query
    * probing ITS list (so total scored rows = what the per-query probes
    * would have read, but read once), and the per-query top-k is a window
    * partitioned BY QUERY. ADC tables for the whole batch broadcast
    * together: |batch|·m·nCodes entries (×nProbe when the index is
    * residual — per-list query tables).
    *
    * The batch must be DRIVER-COLLECTABLE — that contract is enforced,
    * not assumed: a relation larger than `maxBatch` rows refuses loudly
    * (before materializing more than `maxBatch`+1 rows on the driver),
    * and the broadcast ADC table is capped at `maxAdcEntries` =
    * |batch|·(nProbe if residual else 1)·m·nCodes entries, so an
    * oversized batch (or an over-eager nProbe against a residual index)
    * fails with a sizing message instead of a driver OOM. For unbounded
    * query relations, run in `maxBatch`-sized slices.
    */
  def ivfPqTopKIndexedBatch(spark: org.apache.spark.sql.SparkSession,
      path: String, idCol: String, queries: DataFrame, qIdCol: String,
      qVecCol: String, k: Int, nProbe: Int = 4,
      maxBatch: Int = 65536, maxAdcEntries: Long = 16000000L): DataFrame = {
    require(qIdCol != idCol,
      s"ivfPqTopKIndexedBatch: query id column '$qIdCol' must differ from " +
        s"the index id column '$idCol' (both appear in the output)")
    require(maxBatch >= 1, s"maxBatch $maxBatch must be >= 1")
    val meta = readIvfPqMeta(spark, path)
    val qs: Array[(Long, Array[Double])] = queries
      .filter(col(qVecCol).isNotNull)
      .select(col(qIdCol).cast("long").as("qid"),
        col(qVecCol).cast("array<double>").as("qv"))
      .limit(maxBatch + 1)
      .collect().map { r =>
        require(!r.isNullAt(0),
          s"ivfPqTopKIndexedBatch requires numeric query ids; '$qIdCol' cast to null")
        // balanced/opq index: queries join the stored space here
        (r.getLong(0),
          rotQuery(permQuery(r.getSeq[Double](1), meta.perm), meta.rot)
            .toArray)
      }
    require(qs.length <= maxBatch,
      s"ivfPqTopKIndexedBatch: query batch exceeds maxBatch=$maxBatch rows " +
        "— the batched probe broadcasts per-query ADC tables and is for " +
        "bounded eval/rerank batches; slice the relation or raise maxBatch " +
        "only with the driver memory to match")
    require(qs.nonEmpty, "ivfPqTopKIndexedBatch: empty query batch")
    locally {
      val perQ = (if (meta.residual) nProbe.toLong else 1L) *
        meta.m * meta.donors.length
      val entries = qs.length * perQ
      require(entries <= maxAdcEntries,
        s"ivfPqTopKIndexedBatch: broadcast ADC table would hold $entries " +
          s"entries (|batch|=${qs.length} x $perQ per query" +
          (if (meta.residual) s", residual index so xnProbe=$nProbe" else "") +
          s") > maxAdcEntries=$maxAdcEntries — shrink the batch" +
          (if (meta.residual) " or nProbe" else "") + " or raise the cap " +
          "with the driver memory to match")
    }
    require(qs.map(_._1).distinct.length == qs.length,
      "ivfPqTopKIndexedBatch: duplicate query ids in the batch — two rows " +
        "sharing an id would silently shadow each other's vectors")
    val dim = meta.donors.head._2.length
    val sub = dim / meta.m
    val probedBy: Map[Long, Seq[Long]] = qs.map { case (qid, qv) =>
      qid -> nearestListIds(qv.toSeq, meta.centroids, nProbe)
    }.toMap
    val listToQids: Map[Long, Array[Long]] = probedBy.toSeq
      .flatMap { case (qid, ls) => ls.map(_ -> qid) }
      .groupBy(_._1).map { case (l, ps) => l -> ps.map(_._2).sorted.toArray }
    val allLists = listToQids.keys.toSeq
    val cmap = meta.centroids.toMap
    // table key: (qid, lst, j, code) for residual; lst folded to -1 for
    // plain (the query-donor distance is list-independent there)
    val table: Map[(Long, Long, Int, Long), Double] = (for {
      (qid, qv) <- qs.toSeq
      lst <- if (meta.residual) probedBy(qid) else Seq(-1L)
      j <- 0 until meta.m
      (did, dv) <- meta.donors
    } yield {
      var s = 0.0; var i = 0
      while (i < sub) {
        val qi = j * sub + i
        val qc = if (meta.residual) qv(qi) - cmap(lst)(qi) else qv(qi)
        val t = qc - dv(qi); s += t * t; i += 1
      }
      ((qid, lst, j, did), s)
    }).toMap
    val bt = spark.sparkContext.broadcast(table)
    val bq = spark.sparkContext.broadcast(listToQids)
    val residual = meta.residual
    val score = udf { (lst: Long, cs: Seq[Long]) =>
      bq.value.getOrElse(lst, Array.empty[Long]).map { qid =>
        val tl = if (residual) lst else -1L
        var s = 0.0; var j = 0
        while (j < cs.length) { s += bt.value((qid, tl, j, cs(j))); j += 1 }
        (qid, s)
      }.toSeq
    }
    val scored = IndexStore.read(spark, s"$path/codes")
      .filter(col("ivf_list").isin(allLists: _*))
      .select(col(idCol), col("ivf_list").cast("long").as("__lst"),
        col("pq_codes"))
      .select(col(idCol),
        explode(score(col("__lst"), col("pq_codes"))).as("__s"))
      .select(col("__s._1").as(qIdCol), col(idCol), col("__s._2").as("adc"))
    Ops.topKPerGroup(scored, Seq(qIdCol),
      Seq(col("adc").asc, col(idCol).asc), k)
  }

  // ------------------------------------------------------ hybrid retrieval

  /** Top-N of a scored relation as an explicit 1-based `rank` column,
    * WITHOUT a partitionless window: the top-N cut is a
    * `TakeOrderedAndProject` (per-partition heaps, k rows to the driver
    * merge) and the rank within those N rows is a broadcast count-join —
    * O(N²) pairs over a contractually-small N (a retrieval system's
    * top-k), fully parallel, no single-task stage. Ties break on id, so
    * ranks are deterministic wherever scores are.
    */
  def rankByScore(scored: DataFrame, idCol: String, scoreCol: String,
      topN: Int): DataFrame = {
    val top = scored
      .orderBy(col(scoreCol).desc, col(idCol).asc).limit(topN)
      .select(col(idCol).as("__id"), col(scoreCol).as("__s"))
    val other = broadcast(
      top.select(col("__id").as("__id2"), col("__s").as("__s2")))
    top.join(other,
        col("__s2") > col("__s") ||
          (col("__s2") === col("__s") && col("__id2") < col("__id")),
        "left")
      .groupBy(col("__id"), col("__s"))
      .agg(count(col("__id2")).as("__better"))
      .select(col("__id").as(idCol), (col("__better") + 1).as("rank"))
  }

  /** Reciprocal-rank fusion of N ranked retrieval runs — the hybrid-search
    * combiner (BM25 ⊕ ANN ⊕ …): fused = Σ_runs 1/(kRrf + rank), rank 1 =
    * best. Inputs are top-k lists ([[rankByScore]] output or any
    * (id, rank) relation), contractually SMALL, so fusion is one union +
    * one keyed aggregation and the final cut is again a
    * TakeOrderedAndProject — no global sort, no partitionless window.
    * `n_systems` reports how many runs surfaced each id.
    */
  def rrfFuse(runs: Seq[DataFrame], idCol: String, rankCol: String,
      kRrf: Int = 60, topN: Int = 10): DataFrame = {
    require(runs.nonEmpty, "rrfFuse needs at least one run")
    runs.map(_.select(col(idCol), col(rankCol).cast("long").as("__r")))
      .reduce(_ unionByName _)
      .groupBy(col(idCol))
      .agg(sum(lit(1.0) / (col("__r") + lit(kRrf))).as("rrf"),
        count(lit(1)).as("n_systems"))
      .orderBy(col("rrf").desc, col(idCol).asc)
      .limit(topN)
  }
}
