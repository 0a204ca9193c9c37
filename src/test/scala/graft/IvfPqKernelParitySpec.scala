package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, IndexStore, Similarity, TextIndex}

/** The replaced kernels, as they were (top level: the UDFs serialize). */
private object IvfPqRef {
  def sqDistArr(a: Seq[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0; val n = math.min(a.length, b.length)
    while (i < n) { val t = a(i) - b(i); s += t * t; i += 1 }
    s
  }

  def assignUdf(spark: SparkSession, centroids: Array[Array[Double]]) = {
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

  def pqEncodeUdf(spark: SparkSession,
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

  def hierarchicalAssignUdf(spark: SparkSession,
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

  // the flat id-keyed assigner was already the native kernel
  def assignById(centroids: Array[(Long, Array[Double])]): Column => Column =
    v => graft.expr.GraftExpressions.nearestCentroidId(v, centroids)

  def nearestListIds(query: Seq[Double],
      centroids: Array[(Long, Array[Double])], nProbe: Int): Seq[Long] =
    centroids.map { case (cid, cv) => (sqDistArr(query, cv), cid) }
      .sorted.take(nProbe).map(_._2).toSeq

  def residualizeDonors(donors: Array[(Long, Array[Double])],
      centroids: Array[(Long, Array[Double])]): Array[(Long, Array[Double])] =
    donors.map { case (id, v) =>
      (id, Array.tabulate(v.length)(i => v(i) - nearestCentroidVec(v, centroids)(i)))
    }

  def nearestCentroidVec(v: Array[Double],
      centroids: Array[(Long, Array[Double])]): Array[Double] = {
    var best = Long.MaxValue; var bd = Double.PositiveInfinity
    var bv: Array[Double] = centroids.head._2
    centroids.foreach { case (cid, cv) =>
      val d = sqDistArr(v.toSeq, cv)
      if (d < bd || (d == bd && cid < best)) { bd = d; best = cid; bv = cv }
    }
    bv
  }

  def residualEncodeUdf(spark: SparkSession,
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

  def meanQuantErr(rel: DataFrame, vecCol: String,
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
    val lstCol =
      if (!residual) lit(-1L)
      else if (assignGroups > 0)
        hierarchicalAssignUdf(spark, centroids, assignGroups)(vcol)
      else assignById(centroids)(vcol)
    rel.filter(col(vecCol).isNotNull)
      .select(err(vcol, lstCol).as("__qe"))
      .agg(avg(col("__qe"))).head().getDouble(0)
  }

  /** ADC table 1 of 3: `pqSearchCodes`. */
  def plainTable(donors: Array[(Long, Array[Double])], query: Seq[Double],
      m: Int): Map[(Int, Long), Double] = {
    val dim = donors.head._2.length
    val sub = dim / m
    (for {
      j <- 0 until m; (did, dv) <- donors
    } yield {
      var s = 0.0; var i = 0
      while (i < sub) { val t = query(j * sub + i) - dv(j * sub + i); s += t * t; i += 1 }
      ((j, did), s)
    }).toMap
  }

  /** ADC table 2 of 3: the residual branch of `ivfPqTopKIndexed`. */
  def residualTable(centroids: Array[(Long, Array[Double])],
      donors: Array[(Long, Array[Double])], m: Int, probed: Seq[Long],
      query: Seq[Double]): Map[(Long, Int, Long), Double] = {
    val dim = donors.head._2.length
    val sub = dim / m
    val cmap = centroids.toMap
    (for {
      lst <- probed
      cv = cmap(lst)
      j <- 0 until m
      (did, dv) <- donors
    } yield {
      var s = 0.0; var i = 0
      while (i < sub) {
        val qi = j * sub + i
        val t = (query(qi) - cv(qi)) - dv(qi); s += t * t; i += 1
      }
      ((lst, j, did), s)
    }).toMap
  }

  /** ADC table 3 of 3: `ivfPqTopKIndexedBatch`. */
  def batchTable(qs: Array[(Long, Array[Double])],
      probedBy: Map[Long, Seq[Long]], centroids: Array[(Long, Array[Double])],
      donors: Array[(Long, Array[Double])], m: Int,
      residual: Boolean): Map[(Long, Long, Int, Long), Double] = {
    val dim = donors.head._2.length
    val sub = dim / m
    val cmap = centroids.toMap
    (for {
      (qid, qv) <- qs.toSeq
      lst <- if (residual) probedBy(qid) else Seq(-1L)
      j <- 0 until m
      (did, dv) <- donors
    } yield {
      var s = 0.0; var i = 0
      while (i < sub) {
        val qi = j * sub + i
        val qc = if (residual) qv(qi) - cmap(lst)(qi) else qv(qi)
        val t = qc - dv(qi); s += t * t; i += 1
      }
      ((qid, lst, j, did), s)
    }).toMap
  }

  /** The sidecar encoder, as it was. */
  def metaJson(m: Int, maxId: Long, nVecs: Long,
      residual: Boolean, assignGroups: Int,
      centroids: Array[(Long, Array[Double])],
      donors: Array[(Long, Array[Double])],
      last: Option[(Long, Long, Long)], lastFp: Option[Long],
      baseErr: Double, appendErrs: Seq[Double],
      perm: Option[Array[Int]],
      rot: Option[Array[Array[Double]]]): String = {
    def enc(arr: Array[(Long, Array[Double])]): String = arr
      .map { case (id, v) => s"""{"id":$id,"v":${v.mkString("[", ",", "]")}}""" }
      .mkString("[", ",", "]")
    val lastJson = last
      .map { case (mn, mx, c) => s""""lastMin":$mn,"lastMax":$mx,"lastN":$c,""" }
      .getOrElse("") +
      lastFp.map(f => s""""lastFp":$f,""").getOrElse("")
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

/** Pins the IVF/PQ kernels of `Similarity` to the interpreted kernels they
  * replaced: the coarse assigners, the PQ encoders, the drift statistic
  * and the three ADC table builders of [[IvfPqRef]] are copied unchanged
  * from the earlier implementation. Every index shape — plain, plain two-level,
  * residual, residual two-level, balanced, OPQ — must write the same
  * `codes/` rows and the same sidecar bytes, and answer the single-query
  * and batched probes with the same ids and ADC doubles.
  */
class IvfPqKernelParitySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val dim = 8
  private val m = 4

  /** Tie-rich vectors on a quarter grid, built without a lambda. */
  private def vecs(lo: Long, hi: Long): DataFrame =
    spark.range(lo, hi).select(col("id").as("vec_id"),
      array((0 until dim).map(d =>
        (pmod(col("id") * (d + 7) + d, lit(13L)).cast("double") / 4.0)): _*)
        .as("embedding"))

  private def tmpIdx(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_parity_$tag")
      .resolve("idx").toString

  private def readSidecar(path: String): String =
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path, "_ivfpq_meta.json")), "UTF-8")

  private def codeRows(df: DataFrame): Seq[(Long, Long, Seq[Long])] =
    df.select(col("vec_id").cast("long"), col("ivf_list").cast("long"),
        col("pq_codes")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2).toSeq))
      .toSeq.sortBy(_._1)

  // the stored space of a balanced / OPQ index, as the writer derives it
  private def toSpace(df: DataFrame, vecCol: String, perm: Option[Array[Int]],
      rot: Option[Array[Array[Double]]]): DataFrame = {
    val permuted = perm.fold(df) { p =>
      val v = col(vecCol).cast("array<double>")
      df.withColumn(vecCol, array(p.map(i => v.getItem(i)).toIndexedSeq: _*))
    }
    rot.fold(permuted)(r => permuted.withColumn(vecCol,
      graft.functions.EmbeddingStats.applyRotation(col(vecCol), r)))
  }

  private def queryToSpace(q: Seq[Double], perm: Option[Array[Int]],
      rot: Option[Array[Array[Double]]]): Seq[Double] = {
    val p = perm.map(p => p.toIndexedSeq.map(q(_)): Seq[Double]).getOrElse(q)
    rot.fold(p)(r => r.toIndexedSeq.map { row =>
      var s = 0.0; var i = 0
      val n = math.min(row.length, p.length)
      while (i < n) { s += row(i) * p(i); i += 1 }
      s
    })
  }

  /** A 2×2-block Givens rotation: orthonormal, mixes every dim pair. */
  private val rotation: Array[Array[Double]] = Array.tabulate(dim) { r =>
    val b = r / 2 * 2
    val th = 0.3 + 0.2 * b
    Array.tabulate(dim) { c =>
      if (c / 2 * 2 != b) 0.0
      else if (r == b) { if (c == b) math.cos(th) else -math.sin(th) }
      else { if (c == b) math.sin(th) else math.cos(th) }
    }
  }

  /** The reference codes of `rel` (id, list, codes), through the old
    * kernels, in the index's stored space. */
  private def refCodes(rel: DataFrame, vecCol: String,
      centroids: Array[(Long, Array[Double])],
      donors: Array[(Long, Array[Double])], residual: Boolean,
      assignGroups: Int): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    if (residual) {
      val encR = IvfPqRef.residualEncodeUdf(spark, centroids, donors, m, assignGroups)
      rel.select(col("vec_id"), encR(v).as("__le"))
        .select(col("vec_id"), col("__le._1").as("ivf_list"),
          col("__le._2").as("pq_codes"))
    } else {
      val assign: Column => Column =
        if (assignGroups > 0)
          IvfPqRef.hierarchicalAssignUdf(spark, centroids, assignGroups)(_)
        else IvfPqRef.assignById(centroids)
      rel.select(col("vec_id"), assign(v).as("ivf_list"),
        IvfPqRef.pqEncodeUdf(spark, donors, m)(v).as("pq_codes"))
    }
  }

  /** Reference single-query answer over the index's own `codes/` rows. */
  private def refProbe(codes: Seq[(Long, Long, Seq[Long])],
      centroids: Array[(Long, Array[Double])],
      donors: Array[(Long, Array[Double])], residual: Boolean,
      q: Seq[Double], k: Int, nProbe: Int): Seq[(Long, Double)] = {
    val probed = IvfPqRef.nearestListIds(q, centroids, nProbe)
    val score: (Long, Seq[Long]) => Double =
      if (residual) {
        val t = IvfPqRef.residualTable(centroids, donors, m, probed, q)
        (lst, cs) => cs.indices.foldLeft(0.0)((s, j) => s + t((lst, j, cs(j))))
      } else {
        val t = IvfPqRef.plainTable(donors, q, m)
        (_, cs) => cs.indices.foldLeft(0.0)((s, j) => s + t((j, cs(j))))
      }
    codes.filter(r => probed.contains(r._2))
      .map { case (id, lst, cs) => (id, score(lst, cs)) }
      .sortBy { case (id, s) => (s, id) }.take(k)
  }

  /** Reference batched answer: (qid, id, adc) per query's top-k. */
  private def refBatch(codes: Seq[(Long, Long, Seq[Long])],
      centroids: Array[(Long, Array[Double])],
      donors: Array[(Long, Array[Double])], residual: Boolean,
      qs: Array[(Long, Array[Double])], k: Int,
      nProbe: Int): Set[(Long, Long, Double)] = {
    val probedBy = qs.map { case (qid, qv) =>
      qid -> IvfPqRef.nearestListIds(qv.toSeq, centroids, nProbe) }.toMap
    val t = IvfPqRef.batchTable(qs, probedBy, centroids, donors, m, residual)
    qs.flatMap { case (qid, _) =>
      codes.filter(r => probedBy(qid).contains(r._2))
        .map { case (id, lst, cs) =>
          val tl = if (residual) lst else -1L
          (id, cs.indices.foldLeft(0.0)((s, j) => s + t((qid, tl, j, cs(j)))))
        }
        .sortBy { case (id, s) => (s, id) }.take(k)
        .map { case (id, s) => (qid, id, s) }
    }.toSet
  }

  /** Build, append one batch, then compare codes, sidecar and probes
    * with the reference. */
  private def checkParity(tag: String, build: DataFrame, batch: DataFrame,
      nLists: Int, nCodes: Int, residual: Boolean = false,
      assignGroups: Int = 0, balanced: Boolean = false,
      rot: Option[Array[Array[Double]]] = None,
      centroidsOpt: Option[Array[(Long, Array[Double])]] = None,
      donorsOpt: Option[Array[(Long, Array[Double])]] = None,
      queries: Seq[Seq[Double]]): Unit = {
    val path = tmpIdx(tag)
    Similarity.writeIvfPqIndex(build, "vec_id", "embedding", path,
      nLists = nLists, m = m, nCodes = nCodes, centroidsOpt = centroidsOpt,
      donorsOpt = donorsOpt, residual = residual, assignGroups = assignGroups,
      balanced = balanced, opqRotationOpt = rot)
    Similarity.appendToIvfPqIndex(batch, "vec_id", "embedding", path)

    // the reference build: same codebooks, the old kernels
    val perm =
      if (balanced) Some(Similarity.pqBalancedPerm(build, "vec_id", "embedding", m))
      else None
    val clean0 = toSpace(build.filter(col("embedding").isNotNull),
      "embedding", perm, rot)
    val centroids = centroidsOpt.getOrElse(
      Similarity.pqDonors(clean0, "vec_id", "embedding", nLists))
    val rawDonors = donorsOpt.getOrElse(Similarity.pqDonors(clean0, "vec_id",
      "embedding", nCodes, skip = if (residual) nLists else 0))
    val donors =
      if (residual) IvfPqRef.residualizeDonors(rawDonors, centroids) else rawDonors
    val clean1 = toSpace(batch.filter(col("embedding").isNotNull)
      .select(col("vec_id").cast("long").as("vec_id"),
        col("embedding").cast("array<double>").as("__v")), "__v", perm, rot)
    val want = codeRows(refCodes(clean0, "embedding", centroids, donors,
        residual, assignGroups)
      .unionByName(refCodes(clean1.withColumnRenamed("__v", "embedding"),
        "embedding", centroids, donors, residual, assignGroups)))
    val got = codeRows(IndexStore.read(spark, s"$path/codes"))
    assert(got == want, s"$tag: codes/ rows differ")

    val baseErr = IvfPqRef.meanQuantErr(clean0, "embedding", centroids, donors, m,
      residual, assignGroups)
    val batchErr = IvfPqRef.meanQuantErr(clean1, "__v", centroids, donors, m,
      residual, assignGroups)
    val s = batch.agg(min(col("vec_id")).cast("long"),
      max(col("vec_id")).cast("long"), count(lit(1)),
      expr("bit_xor(xxhash64(CAST(vec_id AS BIGINT)))")).head()
    val n0 = build.filter(col("embedding").isNotNull).count()
    val sidecar = IvfPqRef.metaJson(m, s.getLong(1), n0 + s.getLong(2), residual,
      assignGroups, centroids, donors,
      Some((s.getLong(0), s.getLong(1), s.getLong(2))), Some(s.getLong(3)),
      baseErr, Seq(batchErr), perm, rot)
    assert(readSidecar(path) == sidecar, s"$tag: sidecar bytes differ")

    queries.foreach { raw =>
      val q = queryToSpace(raw, perm, rot)
      val gotQ = Similarity.ivfPqTopKIndexed(spark, path, "vec_id", raw,
          k = 7, nProbe = 2).collect().map(r => (r.getLong(0), r.getDouble(1)))
        .toSeq
      assert(gotQ == refProbe(want, centroids, donors, residual, q, 7, 2),
        s"$tag: ivfPqTopKIndexed differs for $raw")
    }
    val qDf = spark.createDataFrame(queries.zipWithIndex.map { case (q, i) =>
      (100L + i, q.toArray) }).toDF("qid", "qv")
    val gotB = Similarity.ivfPqTopKIndexedBatch(spark, path, "vec_id", qDf,
        "qid", "qv", k = 5, nProbe = 3)
      .select(col("qid"), col("vec_id"), col("adc")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val qs = queries.zipWithIndex.map { case (q, i) =>
      (100L + i, queryToSpace(q, perm, rot).toArray) }.toArray
    assert(gotB == refBatch(want, centroids, donors, residual, qs, 5, 3),
      s"$tag: ivfPqTopKIndexedBatch differs")
  }

  private lazy val queries: Seq[Seq[Double]] =
    vecs(3, 6).collect().map(_.getSeq[Double](1).toSeq).toSeq :+
      Seq.fill(dim)(1.0)

  test("plain and two-level plain IVF-PQ: codes, sidecar and probes equal " +
      "the replaced kernels'") {
    checkParity("plain", vecs(0, 60), vecs(60, 80), nLists = 6, nCodes = 5,
      queries = queries)
    checkParity("plain2", vecs(0, 60), vecs(60, 80), nLists = 9, nCodes = 5,
      assignGroups = 2, queries = queries)
  }

  test("residual IVF-PQ, flat and two-level: codes, sidecar and probes " +
      "equal the replaced kernels'") {
    checkParity("resid", vecs(0, 60), vecs(60, 80), nLists = 6, nCodes = 5,
      residual = true, queries = queries)
    checkParity("resid2", vecs(0, 60), vecs(60, 80), nLists = 9, nCodes = 5,
      residual = true, assignGroups = 2, queries = queries)
  }

  test("balanced and OPQ IVF-PQ: codes, sidecar and probes equal the " +
      "replaced kernels'") {
    checkParity("balanced", vecs(0, 60), vecs(60, 80), nLists = 6,
      nCodes = 5, balanced = true, queries = queries)
    checkParity("opq", vecs(0, 60), vecs(60, 80), nLists = 6, nCodes = 5,
      rot = Some(rotation), queries = queries)
  }

  test("ties: a vector equidistant from two centroids and a subvector " +
      "equidistant from two donors resolve as before") {
    // centroids 5 and 2 sit at distance 8 from (1,..,1); donors 3 and 7
    // at distance 2 from every (1, 1) subvector
    val cs = Array((5L, Array.fill(dim)(0.0)), (2L, Array.fill(dim)(2.0)))
    val ds = Array((3L, Array.fill(dim)(0.0)), (7L, Array.fill(dim)(2.0)))
    def grid(lo: Long, hi: Long) = spark.range(lo, hi).select(
      col("id").as("vec_id"),
      array((0 until dim).map(d =>
        (pmod(col("id") + lit(d / 2), lit(3L)).cast("double"))): _*)
        .as("embedding"))
    val tq = Seq(Seq.fill(dim)(1.0), Seq.fill(dim)(0.0))
    checkParity("tie", grid(0, 12), grid(12, 18), nLists = 2, nCodes = 2,
      centroidsOpt = Some(cs), donorsOpt = Some(ds), queries = tq)
    checkParity("tieResid", grid(0, 12), grid(12, 18), nLists = 2,
      nCodes = 2, residual = true, centroidsOpt = Some(cs),
      donorsOpt = Some(ds), queries = tq)
  }

  test("flat IVF index: partition values equal the replaced assign UDF's; " +
      "a NaN vector still lands in list -1") {
    val rows = vecs(0, 40).unionByName(spark.range(40, 41).select(
      col("id").as("vec_id"),
      array((0 until dim).map(d =>
        if (d == 3) lit(Double.NaN) else lit(d.toDouble)): _*).as("embedding")))
    val cents = Array.tabulate(5)(c => Array.tabulate(dim)(d => ((c + d) % 4) / 2.0))
    val path = tmpIdx("ivf")
    Similarity.writeIvfIndex(rows, "vec_id", "embedding", cents, path)
    val got = spark.read.parquet(path)
      .select(col("vec_id"), col("__list")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val (assign, _) = IvfPqRef.assignUdf(spark, cents)
    val want = rows.select(col("vec_id"),
        assign(col("embedding").cast("array<double>"))).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == want)
    assert(got(40L) == -1, "the NaN vector must keep list -1")
    assert(spark.read.parquet(path).schema("__list").dataType ==
      org.apache.spark.sql.types.IntegerType)
  }

  test("driver-side argmins (donor residuals, representative grouping) " +
      "keep the replaced loop's answer at +Inf and NaN distances") {
    import graft.expr.VecMath
    import org.apache.spark.sql.catalyst.util.ArrayData
    // ids out of order, so the first centroid is not the smallest id
    val cs = Array((7L, Array(0.0, 0.0)), (3L, Array(1.0, 1.0)),
      (5L, Array(Double.NaN, 0.0)), (4L, Array(1.0, 1.0)))
    val ids = cs.map(_._1); val vs = cs.map(_._2)
    for (v <- Seq(Array(1e200, 1e200), Array(-1e200, 3.0),
        Array(Double.NaN, 1.0), Array(0.5, 0.5), Array(1.0, 1.0))) {
      val id = VecMath.nearestCentroidId(ArrayData.toArrayData(v), ids, vs)
      val got = cs.find(_._1 == id).getOrElse(cs.head)._2
      assert(got.sameElements(IvfPqRef.nearestCentroidVec(v, cs)),
        s"${v.mkString(",")}: id $id")
    }
    // all +Inf: the smallest id at +Inf; all NaN: no winner
    assert(VecMath.nearestCentroidId(ArrayData.toArrayData(Array(1e200, 1e200)),
      ids, vs) == 3L)
    assert(VecMath.nearestCentroidId(ArrayData.toArrayData(Array(Double.NaN, 1.0)),
      ids, vs) == Long.MaxValue)
  }

  test("signature and text index sidecars keep their byte format through " +
      "a build and an append") {
    import spark.implicits._
    val words = Seq("spark", "query", "planner", "river", "bank", "fox",
      "lazy", "dog", "catalyst", "tungsten", "stream", "state")
    def docs(from: Long, to: Long) = (from to to).map { i =>
      (i, (0 until 8).map(j => words(((i * 7 + j * j * 3 + j) % words.size).toInt))
        .mkString(" ") + s" doc$i")
    }.toDF("doc_id", "text")
    def sidecar(path: String, name: String) = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path, name)), "UTF-8")
    def field(raw: String, key: String): Option[String] =
      ("\"" + key + "\":(-?[0-9.eE]+)").r.findFirstMatchIn(raw).map(_.group(1))
    // the earlier encoders' replay suffix: ,"lastMin":..,"lastMax":..,"lastN":..,"lastFp":..
    def lastJson(raw: String) = {
      val last = for (mn <- field(raw, "lastMin"); mx <- field(raw, "lastMax");
        c <- field(raw, "lastN")) yield (mn, mx, c)
      assert(last.isDefined, s"no replay record after an append: $raw")
      last.map { case (mn, mx, c) => s""","lastMin":$mn,"lastMax":$mx,"lastN":$c""" }
        .getOrElse("") +
        field(raw, "lastFp").map(f => s""","lastFp":$f""").getOrElse("")
    }

    val sig = tmpIdx("sig")
    Dedup.writeSignatureIndex(docs(1, 30), "doc_id", "text", sig,
      shingleN = 2, k = 16, bands = 4, nBuckets = 8)
    Dedup.appendToSignatureIndex(docs(31, 40), "doc_id", "text", sig)
    val rawSig = sidecar(sig, "_dedup_index_meta.json")
    def sf(key: String) = field(rawSig, key).get
    assert(rawSig == s"""{"shingleN":${sf("shingleN")},"k":${sf("k")},""" +
      s""""bands":${sf("bands")},"nBuckets":${sf("nBuckets")},""" +
      s""""maxId":${sf("maxId")},"nDocs":${sf("nDocs")}${lastJson(rawSig)}}""")
    assert(sf("maxId") == "40" && sf("lastMin") == "31" && sf("lastN") == "10")

    val text = tmpIdx("text")
    TextIndex.write(docs(1, 30), "doc_id", "text", text, nBuckets = 8)
    TextIndex.append(docs(31, 40), "doc_id", "text", text)
    val rawText = sidecar(text, "_text_index_stats.json")
    def tf(key: String) = field(rawText, key).get
    assert(rawText == s"""{"n":${tf("n")},"avgdl":${tf("avgdl")},""" +
      s""""nBuckets":${tf("nBuckets")},"maxId":${tf("maxId")}""" +
      s"""${lastJson(rawText)}}""")
    assert(tf("maxId") == "40" && tf("lastMax") == "40" && tf("lastN") == "10")
  }
}
