package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** JVM kernels referenced from generated code — one static call site, no
  * boxing, no virtual dispatch inside the loop.
  */
object GeoMath {
  final val EarthRadiusKm = 6371.0088

  def haversineKm(lat1: Double, lon1: Double, lat2: Double, lon2: Double): Double = {
    val dLat = math.toRadians(lat2 - lat1)
    val dLon = math.toRadians(lon2 - lon1)
    val s1 = math.sin(dLat / 2)
    val s2 = math.sin(dLon / 2)
    val a = s1 * s1 + math.cos(math.toRadians(lat1)) * math.cos(math.toRadians(lat2)) * s2 * s2
    2.0 * EarthRadiusKm * math.asin(math.sqrt(a))
  }

  /** Ellipsoidal geodesic distance in km (Vincenty inverse on WGS84) —
    * matches the reference's geopy WGS-84 geodesic
    * (code/lib/generate_intermediate_files.py:496-501) to sub-millimeter,
    * closing the declared <0.5% haversine gap. Near-antipodal pairs where
    * Vincenty's λ-iteration diverges (|L| ≳ 179.4°) fall back to
    * haversine LOUDLY-documented here — a 0.55%-bounded error on pairs a
    * transmission-line model never produces.
    */
  def geodesicKm(lat1: Double, lon1: Double, lat2: Double, lon2: Double): Double = {
    val a = 6378137.0
    val f = 1.0 / 298.257223563
    val b = (1 - f) * a
    val L = math.toRadians(lon2 - lon1)
    val u1 = math.atan((1 - f) * math.tan(math.toRadians(lat1)))
    val u2 = math.atan((1 - f) * math.tan(math.toRadians(lat2)))
    val sinU1 = math.sin(u1); val cosU1 = math.cos(u1)
    val sinU2 = math.sin(u2); val cosU2 = math.cos(u2)
    var lambda = L
    var sinSigma = 0.0; var cosSigma = 0.0; var sigma = 0.0
    var cos2Alpha = 0.0; var cos2SigmaM = 0.0
    var iter = 0
    var delta = Double.MaxValue
    while (iter < 100 && delta > 1e-12) {
      val sinL = math.sin(lambda); val cosL = math.cos(lambda)
      val t1 = cosU2 * sinL
      val t2 = cosU1 * sinU2 - sinU1 * cosU2 * cosL
      sinSigma = math.sqrt(t1 * t1 + t2 * t2)
      if (sinSigma == 0.0) return 0.0 // coincident points
      cosSigma = sinU1 * sinU2 + cosU1 * cosU2 * cosL
      sigma = math.atan2(sinSigma, cosSigma)
      val sinAlpha = cosU1 * cosU2 * sinL / sinSigma
      cos2Alpha = 1 - sinAlpha * sinAlpha
      cos2SigmaM = if (cos2Alpha == 0.0) 0.0 // equatorial line
        else cosSigma - 2 * sinU1 * sinU2 / cos2Alpha
      val c = f / 16 * cos2Alpha * (4 + f * (4 - 3 * cos2Alpha))
      val prev = lambda
      lambda = L + (1 - c) * f * sinAlpha * (sigma + c * sinSigma *
        (cos2SigmaM + c * cosSigma * (-1 + 2 * cos2SigmaM * cos2SigmaM)))
      delta = math.abs(lambda - prev)
      iter += 1
    }
    if (delta > 1e-12) return haversineKm(lat1, lon1, lat2, lon2)
    val uSq = cos2Alpha * (a * a - b * b) / (b * b)
    val bigA = 1 + uSq / 16384 * (4096 + uSq * (-768 + uSq * (320 - 175 * uSq)))
    val bigB = uSq / 1024 * (256 + uSq * (-128 + uSq * (74 - 47 * uSq)))
    val dSigma = bigB * sinSigma * (cos2SigmaM + bigB / 4 *
      (cosSigma * (-1 + 2 * cos2SigmaM * cos2SigmaM) - bigB / 6 * cos2SigmaM *
        (-3 + 4 * sinSigma * sinSigma) * (-3 + 4 * cos2SigmaM * cos2SigmaM)))
    b * bigA * (sigma - dSigma) / 1000.0
  }

  /** EU-format number parse: strip space/dot thousands separators, decimal
    * comma → dot, literal "inf" → +∞. Single char pass, no regex.
    */
  def euToDouble(s: UTF8String): Double = {
    val str = s.toString.trim
    if (str.equalsIgnoreCase("inf")) Double.PositiveInfinity
    else {
      val sb = new java.lang.StringBuilder(str.length)
      var i = 0
      while (i < str.length) {
        val c = str.charAt(i)
        if (c == ',') sb.append('.')
        else if (c != ' ' && c != '.') sb.append(c)
        i += 1
      }
      java.lang.Double.parseDouble(sb.toString)
    }
  }
}

/** Dense-vector kernels over Catalyst `ArrayData` — no Seq materialization,
  * no per-element boxing (the UDF path converts every array to Seq[Double]
  * before the loop; on a 100 TB ANN scan that conversion IS the scan).
  */
object VecMath {
  /** Cosine similarity; same accumulation order as the UDF kernel, so
    * results are bit-identical (oracle-stable). 0.0 when a norm is 0.
    */
  def cosine(a: org.apache.spark.sql.catalyst.util.ArrayData,
      b: org.apache.spark.sql.catalyst.util.ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      // loud on null slots, like the Seq[Double] UDF path this replaced
      // (ArrayData.getDouble on a null slot returns garbage silently)
      if (a.isNullAt(i) || b.isNullAt(i)) throw new IllegalArgumentException(
        s"cosine: null array element at index $i — clean embeddings upstream")
      val x = a.getDouble(i); val y = b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) 0.0 else dot / denom
  }

  /** Squared L2 between a row vector (ArrayData) and a centroid, over the
    * SHORTER length — mirrors the UDF-side `sqDistArr` exactly. Loud on
    * null slots like [[cosine]].
    */
  private def sqDist(v: org.apache.spark.sql.catalyst.util.ArrayData,
      c: Array[Double]): Double = {
    val n = math.min(v.numElements(), c.length)
    var s = 0.0
    var i = 0
    while (i < n) {
      if (v.isNullAt(i)) throw new IllegalArgumentException(
        s"nearest_centroids: null array element at index $i — clean " +
          "embeddings upstream")
      val t = v.getDouble(i) - c(i)
      s += t * t
      i += 1
    }
    s
  }

  /** Id of the centroid nearest `v` by (squared L2, id) — the coarse
    * quantizer argmin, bit-identical to the broadcast-UDF form it
    * replaces (`Similarity.assignByIdUdf`): strict double comparison, ids
    * break ties, order-independent over distinct ids. Long.MaxValue on an
    * empty codebook (the UDF's fold identity).
    */
  def nearestCentroidId(v: org.apache.spark.sql.catalyst.util.ArrayData,
      ids: Array[Long], vecs: Array[Array[Double]]): Long = {
    var best = Long.MaxValue
    var bd = Double.PositiveInfinity
    var ci = 0
    while (ci < ids.length) {
      val d = sqDist(v, vecs(ci))
      if (d < bd || (d == bd && ids(ci) < best)) { bd = d; best = ids(ci) }
      ci += 1
    }
    best
  }

  /** Ids of the `nProbe` centroids nearest `v`, ordered by (squared L2,
    * id) ascending — the multi-probe selection, value-identical to the
    * UDF form (`(dist, id)` tuples `.sorted.take(nProbe)`, whose default
    * Double ordering is `java.lang.Double.compare`; this kernel uses the
    * same total order). One pass, nProbe-sized insertion buffers, no
    * tuple/Seq allocation.
    */
  def nearestCentroidIds(v: org.apache.spark.sql.catalyst.util.ArrayData,
      ids: Array[Long], vecs: Array[Array[Double]],
      nProbe: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val m = ids.length
    val k = math.min(nProbe, m)
    val bd = new Array[Double](k)
    val bi = new Array[Long](k)
    var cnt = 0
    var ci = 0
    while (ci < m) {
      val d = sqDist(v, vecs(ci))
      val id = ids(ci)
      def less(dj: Double, ij: Long): Boolean = {
        val c = java.lang.Double.compare(d, dj)
        c < 0 || (c == 0 && id < ij)
      }
      if (cnt < k) {
        var p = cnt
        while (p > 0 && less(bd(p - 1), bi(p - 1))) {
          bd(p) = bd(p - 1); bi(p) = bi(p - 1); p -= 1
        }
        bd(p) = d; bi(p) = id
        cnt += 1
      } else if (k > 0 && less(bd(k - 1), bi(k - 1))) {
        var p = k - 1
        while (p > 0 && less(bd(p - 1), bi(p - 1))) {
          bd(p) = bd(p - 1); bi(p) = bi(p - 1); p -= 1
        }
        bd(p) = d; bi(p) = id
      }
      ci += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      if (cnt == k) bi else java.util.Arrays.copyOf(bi, cnt))
  }
}

/** Native cosine similarity over two array<double> columns — the hot
  * kernel of every ANN scan, inside whole-stage codegen.
  */
case class CosineSimExpr(left: Expression, right: Expression)
  extends BinaryExpression with Serializable {

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any =
    VecMath.cosine(a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.expr.VecMath.cosine($a, $b)")

  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): Expression = copy(l, r)
  override def prettyName: String = "cosine_sim"
}

/** Native great-circle distance: whole-stage-codegen'd quaternary expression
  * (the hot kernel of the transmission-distance stage; the Column-compo
  * version materializes 12 intermediate doubles per row, this one compiles
  * to a single static call).
  */
case class HaversineKmExpr(lat1: Expression, lon1: Expression,
    lat2: Expression, lon2: Expression)
  extends QuaternaryExpression with Serializable {

  override def first: Expression = lat1
  override def second: Expression = lon1
  override def third: Expression = lat2
  override def fourth: Expression = lon2
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(a: Any, b: Any, c: Any, d: Any): Any =
    GeoMath.haversineKm(a.asInstanceOf[Double], b.asInstanceOf[Double],
      c.asInstanceOf[Double], d.asInstanceOf[Double])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c, d) =>
      s"graft.expr.GeoMath.haversineKm($a, $b, $c, $d)")

  override protected def withNewChildrenInternal(f: Expression, s: Expression,
      t: Expression, q: Expression): Expression = copy(f, s, t, q)
  override def prettyName: String = "haversine_km"
}

/** Native WGS-84 geodesic distance (Vincenty inverse) — same codegen shape
  * as [[HaversineKmExpr]]; one static call per row, loop inside the JVM
  * kernel.
  */
case class GeodesicKmExpr(lat1: Expression, lon1: Expression,
    lat2: Expression, lon2: Expression)
  extends QuaternaryExpression with Serializable {

  override def first: Expression = lat1
  override def second: Expression = lon1
  override def third: Expression = lat2
  override def fourth: Expression = lon2
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(a: Any, b: Any, c: Any, d: Any): Any =
    GeoMath.geodesicKm(a.asInstanceOf[Double], b.asInstanceOf[Double],
      c.asInstanceOf[Double], d.asInstanceOf[Double])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c, d) =>
      s"graft.expr.GeoMath.geodesicKm($a, $b, $c, $d)")

  override protected def withNewChildrenInternal(f: Expression, s: Expression,
      t: Expression, q: Expression): Expression = copy(f, s, t, q)
  override def prettyName: String = "geodesic_km"
}

/** Native EU-decimal parse (S1 dialect): string → double in one codegen'd
  * static call (the Column version chains two regexp_replace passes).
  */
/** Static text-hash kernels referenced from generated code — the same
  * arithmetic as the [[graft.functions.TextFns]] UDF kernels
  * (spec-enforced value equality), minus the per-row Catalyst↔Scala
  * converter machinery: tokens are read straight off `ArrayData`, each
  * shingle hashes by char iteration across its tokens with the `' '`
  * separator hashed in place — no shingle string is ever allocated.
  */
object TextKernels {
  private final val HashP = 1000000007L

  /** OPH signature (rotation-densified) — value-identical to
    * [[graft.functions.TextFns.ophSigUdf]] by construction: shingle
    * hash = polyHash over the UTF-16 chars of `tok_i .. tok_{i+n-1}`
    * joined by single spaces, permuted by the affine family's
    * permutation 0, binned mod k with per-bucket minima and circular
    * borrow densification. An empty/short token array folds to the
    * single joined shingle exactly like the UDF ("" for no tokens).
    */
  def ophSig(arr: org.apache.spark.sql.catalyst.util.ArrayData,
      shingleN: Int, k: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val n = arr.numElements()
    val toks = new Array[String](n)
    var i = 0
    while (i < n) { toks(i) = arr.getUTF8String(i).toString; i += 1 }
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    val a0 = 104729L // minhashPerm(0, ·): ((2·0+1)·104729) % p, 0·12582917+7
    val b0 = 7L
    def addWindow(from: Int, until: Int): Unit = {
      var acc = 0L
      var j = from
      while (j < until) {
        if (j > from) acc = (acc * 31L + ' '.toInt) % HashP
        val t = toks(j)
        var c = 0
        while (c < t.length) { acc = (acc * 31L + t.charAt(c).toInt) % HashP; c += 1 }
        j += 1
      }
      val h = (a0 * acc + b0) % HashP
      val b = (h % k).toInt
      if (h < mins(b)) mins(b) = h
    }
    if (n < shingleN) addWindow(0, n) // incl. n == 0: polyHash("") = 0
    else {
      var s = 0
      while (s + shingleN <= n) { addWindow(s, s + shingleN); s += 1 }
    }
    val out = new Array[Long](k)
    var j = 0
    while (j < k) {
      if (mins(j) != Long.MaxValue) out(j) = mins(j)
      else {
        var t = 1
        while (mins((j + t) % k) == Long.MaxValue) t += 1
        out(j) = mins((j + t) % k) + t.toLong * HashP
      }
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** k-permutation MinHash signature — value-identical to
    * [[graft.functions.TextFns.minhashSigUdf]]: per sliding shingle,
    * base = polyHash of the space-joined window (incremental, no
    * string), then min over the k affine permutations. The UDF's
    * `.distinct` on shingle strings is a no-op for a min — duplicate
    * bases cannot change any minimum — so it is dropped here.
    */
  def minhashSig(arr: org.apache.spark.sql.catalyst.util.ArrayData,
      shingleN: Int, k: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val n = arr.numElements()
    val toks = new Array[String](n)
    var i = 0
    while (i < n) { toks(i) = arr.getUTF8String(i).toString; i += 1 }
    val as = new Array[Long](k)
    val bs = new Array[Long](k)
    i = 0
    while (i < k) {
      as(i) = ((2L * i + 1L) * 104729L) % HashP
      bs(i) = (i.toLong * 12582917L + 7L) % HashP
      i += 1
    }
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    def addWindow(from: Int, until: Int): Unit = {
      var acc = 0L
      var j = from
      while (j < until) {
        if (j > from) acc = (acc * 31L + ' '.toInt) % HashP
        val t = toks(j)
        var c = 0
        while (c < t.length) { acc = (acc * 31L + t.charAt(c).toInt) % HashP; c += 1 }
        j += 1
      }
      var p = 0
      while (p < k) {
        val h = (as(p) * acc + bs(p)) % HashP
        if (h < mins(p)) mins(p) = h
        p += 1
      }
    }
    if (n < shingleN) addWindow(0, n)
    else {
      var s = 0
      while (s + shingleN <= n) { addWindow(s, s + shingleN); s += 1 }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(mins)
  }

  /** 60-bit SimHash — value-identical to the
    * [[graft.functions.TextFns.simhash64Udf]] kernel: per-token
    * two-affine-mix packed hash, signed bit votes, sign readout. An
    * empty token array yields 0L exactly like the UDF's null path.
    */
  def simhash(arr: org.apache.spark.sql.catalyst.util.ArrayData): Long = {
    val bits = 60
    val votes = new Array[Int](bits)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      val t = arr.getUTF8String(i).toString
      var h0 = 0L
      var c = 0
      while (c < t.length) { h0 = (h0 * 31L + t.charAt(c).toInt) % HashP; c += 1 }
      val lo = (104729L * h0 + 7L) % HashP
      val hi = (1299709L * h0 + 31L) % HashP
      val h = (hi << 30) | lo
      var b = 0
      while (b < bits) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < bits) { if (votes(b) > 0) out |= (1L << b); b += 1 }
    out
  }
}

/** Native codegen form of the k-permutation MinHash kernel — same
  * rationale and A/B discipline as [[OphSigExpr]].
  */
case class MinhashSigExpr(child: Expression, shingleN: Int, k: Int)
  extends UnaryExpression with Serializable {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(v: Any): Any =
    TextKernels.minhashSig(
      v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      shingleN, k)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.expr.TextKernels.minhashSig($c, $shingleN, $k)")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
  override def prettyName: String = "minhash_sig"
}

/** Native coarse-quantizer ARGMIN over a literal codebook — one codegen'd
  * static call per row (the UDF pair it replaces converted every vector
  * to Seq[Double] and re-entered the interpreter per row; on a 100 TB ANN
  * scan that conversion is the scan). The codebook (ids + vectors) is
  * baked into the expression — centroid counts are nLists-bounded and
  * tiny, the same data the UDF closed over via a broadcast. Equality and
  * hash (cached, as TreeNode caches its own) are by codebook CONTENT (an
  * `Array` field compares by reference), so equal expressions
  * canonicalize together and CSE can share them.
  */
case class NearestCentroidIdExpr(child: Expression, ids: Array[Long],
    vecs: Array[Array[Double]])
  extends UnaryExpression with Serializable {

  override def equals(o: Any): Boolean = o match {
    case e: NearestCentroidIdExpr => child == e.child &&
      Codebook.same(ids, vecs, e.ids, e.vecs)
    case _ => false
  }
  override lazy val hashCode: Int = Codebook.hash(child, ids, vecs, 0)

  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(v: Any): Any =
    VecMath.nearestCentroidId(
      v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], ids, vecs)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val idsRef = ctx.addReferenceObj("centroidIds", ids, "long[]")
    val vecsRef = ctx.addReferenceObj("centroidVecs", vecs, "double[][]")
    defineCodeGen(ctx, ev,
      c => s"graft.expr.VecMath.nearestCentroidId($c, $idsRef, $vecsRef)")
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
  override def prettyName: String = "nearest_centroid_id"
}

/** Native multi-probe selection over a literal codebook — the `nProbe`
  * nearest centroid ids by (squared L2, id); same kernel discipline as
  * [[NearestCentroidIdExpr]] (the nProbe=1 head of this list IS that
  * argmin, so probe and assignment stay bit-consistent by construction).
  */
case class NearestCentroidIdsExpr(child: Expression, ids: Array[Long],
    vecs: Array[Array[Double]], nProbe: Int)
  extends UnaryExpression with Serializable {

  override def equals(o: Any): Boolean = o match {
    case e: NearestCentroidIdsExpr => child == e.child && nProbe == e.nProbe &&
      Codebook.same(ids, vecs, e.ids, e.vecs)
    case _ => false
  }
  override lazy val hashCode: Int = Codebook.hash(child, ids, vecs, nProbe)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(v: Any): Any =
    VecMath.nearestCentroidIds(
      v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], ids,
      vecs, nProbe)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val idsRef = ctx.addReferenceObj("centroidIds", ids, "long[]")
    val vecsRef = ctx.addReferenceObj("centroidVecs", vecs, "double[][]")
    defineCodeGen(ctx, ev, c =>
      s"graft.expr.VecMath.nearestCentroidIds($c, $idsRef, $vecsRef, $nProbe)")
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
  override def prettyName: String = "nearest_centroids"
}

/** Content equality and hash of a literal (ids, vectors) codebook. */
private object Codebook {
  def same(ids: Array[Long], vecs: Array[Array[Double]],
      ids2: Array[Long], vecs2: Array[Array[Double]]): Boolean =
    java.util.Arrays.equals(ids, ids2) && java.util.Arrays.deepEquals(
      vecs.asInstanceOf[Array[AnyRef]], vecs2.asInstanceOf[Array[AnyRef]])

  def hash(child: Expression, ids: Array[Long], vecs: Array[Array[Double]],
      extra: Int): Int =
    (child, java.util.Arrays.hashCode(ids),
      java.util.Arrays.deepHashCode(vecs.asInstanceOf[Array[AnyRef]]), extra).##
}

/** Native codegen form of the 60-bit SimHash kernel. */
case class SimhashExpr(child: Expression)
  extends UnaryExpression with Serializable {

  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(v: Any): Any =
    TextKernels.simhash(
      v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expr.TextKernels.simhash($c)")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
  override def prettyName: String = "simhash60"
}

/** Native codegen form of the OPH signature kernel ([[TextKernels.ophSig]])
  * — the hottest arithmetic in the dedup family (every near-dup pipeline
  * evaluates it once per document). vs the `udf` form it stays inside the
  * whole-stage-codegen span with ONE static call and no
  * `CatalystTypeConverters` round-trip (`OPH_EXPR_AB_r13.json` measures
  * the swap). Null input must be coalesced to an empty array by the
  * caller ([[graft.operators.Dedup.ophSignatures]] does) — the UDF's
  * null-input path and the empty-array path produce the same signature,
  * so semantics are unchanged.
  */
case class OphSigExpr(child: Expression, shingleN: Int, k: Int)
  extends UnaryExpression with Serializable {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(v: Any): Any =
    TextKernels.ophSig(
      v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      shingleN, k)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.expr.TextKernels.ophSig($c, $shingleN, $k)")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
  override def prettyName: String = "oph_sig"
}

/** JVM kernel for [[GunzipTextExpr]] — one static call site from
  * generated code, the [[TextKernels]] discipline.
  */
object GzipKernels {
  /** Inflate a (possibly multi-member) gzip payload to UTF-8 text.
    * Refuses LOUDLY on non-gzip bytes (a silent null would drop the
    * document from every downstream count) and on decompressed size
    * past `maxBytes` — the same decompression-bomb guard as the WARC
    * reader's gunzipAll, sized for single documents rather than
    * archives (the sitemap protocol itself caps entries at 50 MB
    * uncompressed).
    */
  def gunzipText(bytes: Array[Byte], maxBytes: Int): UTF8String = {
    if (bytes.length < 2 ||
      (bytes(0) & 0xff) != 0x1f || (bytes(1) & 0xff) != 0x8b)
      throw new IllegalArgumentException(
        s"gunzip_text: payload is not gzip (no 1f 8b magic; " +
          s"${bytes.length} bytes) — pre-filter on the magic bytes or " +
          "route plain payloads around the inflate")
    val in = new java.util.zip.GZIPInputStream(
      new java.io.ByteArrayInputStream(bytes), 8192)
    val out = new java.io.ByteArrayOutputStream(
      math.min(bytes.length.toLong * 4, 1L << 20).toInt)
    val buf = new Array[Byte](8192)
    var total = 0L
    var n = in.read(buf)
    while (n >= 0) {
      if (n > 0) {
        total += n
        if (total > maxBytes)
          throw new IllegalArgumentException(
            s"gunzip_text: payload decompresses past ${maxBytes}B " +
              s"(${bytes.length}B compressed) — raise maxBytes or " +
              "shard the document upstream")
        out.write(buf, 0, n)
      }
      n = in.read(buf)
    }
    in.close()
    UTF8String.fromBytes(out.toByteArray)
  }
}

/** Native gunzip-to-text of a BINARY column — the compose step
  * between a fetched `.xml.gz` payload and the text-facing extractors
  * ([[graft.operators.Crawl.sitemapUrls]], robots, jsonl): sitemap
  * indexes in the wild point at gzipped member sitemaps almost
  * exclusively, so the extraction pipeline needs an in-plan inflate.
  * Same shape as the other graft kernels: `nullSafeEval` + one static
  * codegen call, no UDF round-trip, null in → null out; malformed
  * gzip and decompression bombs refuse loudly in the kernel.
  */
case class GunzipTextExpr(child: Expression, maxBytes: Int)
  extends UnaryExpression with Serializable {

  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(v: Any): Any =
    GzipKernels.gunzipText(v.asInstanceOf[Array[Byte]], maxBytes)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.expr.GzipKernels.gunzipText($c, $maxBytes)")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
  override def prettyName: String = "gunzip_text"
}

case class EuToDoubleExpr(child: Expression)
  extends UnaryExpression with Serializable {

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(v: Any): Any =
    GeoMath.euToDouble(v.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expr.GeoMath.euToDouble($c)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
  override def prettyName: String = "eu_to_double"
}

/** Column-facing constructors + SQL registration. */
object GraftExpressions {
  import org.apache.spark.sql.catalyst.expressions.Cast

  private def asDouble(c: Column): Expression =
    Cast(ColumnBridge.expression(c), DoubleType)

  def haversineKm(lat1: Column, lon1: Column, lat2: Column, lon2: Column): Column =
    ColumnBridge.column(
      HaversineKmExpr(asDouble(lat1), asDouble(lon1), asDouble(lat2), asDouble(lon2)))

  def geodesicKm(lat1: Column, lon1: Column, lat2: Column, lon2: Column): Column =
    ColumnBridge.column(
      GeodesicKmExpr(asDouble(lat1), asDouble(lon1), asDouble(lat2), asDouble(lon2)))

  def euToDouble(c: Column): Column =
    ColumnBridge.column(EuToDoubleExpr(Cast(ColumnBridge.expression(c), StringType)))

  /** [[GunzipTextExpr]] over a binary column; default cap 64 MiB —
    * comfortably above the sitemap protocol's 50 MB uncompressed limit.
    */
  def gunzipText(c: Column, maxBytes: Int = 64 << 20): Column =
    ColumnBridge.column(GunzipTextExpr(
      Cast(ColumnBridge.expression(c), BinaryType), maxBytes))

  def cosineSim(a: Column, b: Column): Column =
    ColumnBridge.column(CosineSimExpr(
      Cast(ColumnBridge.expression(a), ArrayType(DoubleType)),
      Cast(ColumnBridge.expression(b), ArrayType(DoubleType))))

  /** [[NearestCentroidIdExpr]] over an id-keyed codebook (the
    * `Similarity` coarse-quantizer shape).
    */
  def nearestCentroidId(v: Column,
      centroids: Array[(Long, Array[Double])]): Column =
    ColumnBridge.column(NearestCentroidIdExpr(
      Cast(ColumnBridge.expression(v), ArrayType(DoubleType)),
      centroids.map(_._1), centroids.map(_._2)))

  /** [[NearestCentroidIdsExpr]]: the `nProbe` nearest centroid ids. */
  def nearestCentroidIds(v: Column, centroids: Array[(Long, Array[Double])],
      nProbe: Int): Column =
    ColumnBridge.column(NearestCentroidIdsExpr(
      Cast(ColumnBridge.expression(v), ArrayType(DoubleType)),
      centroids.map(_._1), centroids.map(_._2), nProbe))

  /** [[OphSigExpr]] over a non-null `array<string>` token column. */
  def ophSig(toks: Column, shingleN: Int, k: Int): Column =
    ColumnBridge.column(OphSigExpr(
      Cast(ColumnBridge.expression(toks), ArrayType(StringType)),
      shingleN, k))

  /** [[MinhashSigExpr]] over a non-null `array<string>` token column. */
  def minhashSig(toks: Column, shingleN: Int, k: Int): Column =
    ColumnBridge.column(MinhashSigExpr(
      Cast(ColumnBridge.expression(toks), ArrayType(StringType)),
      shingleN, k))

  /** [[SimhashExpr]] over a non-null `array<string>` token column. */
  def simhash(toks: Column): Column =
    ColumnBridge.column(SimhashExpr(
      Cast(ColumnBridge.expression(toks), ArrayType(StringType))))

  /** Register as SQL functions on a session (spark.sql("... haversine_km(...)")). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("haversine_km",
      es => HaversineKmExpr(Cast(es(0), DoubleType), Cast(es(1), DoubleType),
        Cast(es(2), DoubleType), Cast(es(3), DoubleType)), "built-in")
    reg.createOrReplaceTempFunction("geodesic_km",
      es => GeodesicKmExpr(Cast(es(0), DoubleType), Cast(es(1), DoubleType),
        Cast(es(2), DoubleType), Cast(es(3), DoubleType)), "built-in")
    reg.createOrReplaceTempFunction("eu_to_double",
      es => EuToDoubleExpr(es.head), "built-in")
    // Curation.sampleBucket as SQL: deterministic Knuth bucket in [0, 2^31)
    // — pure catalyst arithmetic, fully codegen'd, ANSI-overflow-safe
    reg.createOrReplaceTempFunction("sample_bucket",
      es => {
        val two31 = Literal(2147483648L)
        Pmod(Multiply(Pmod(Cast(es.head, LongType), two31),
          Literal(2654435761L)), two31)
      }, "built-in")
    reg.createOrReplaceTempFunction("gunzip_text",
      es => GunzipTextExpr(Cast(es.head, BinaryType), 64 << 20),
      "built-in")
    reg.createOrReplaceTempFunction("cosine_sim",
      es => CosineSimExpr(Cast(es(0), ArrayType(DoubleType)),
        Cast(es(1), ArrayType(DoubleType))), "built-in")
    // geometry surface for SQL sessions; st_contains joins written here
    // are rewritten to the bbox-prefiltered form by BboxJoinRewrite
    spark.udf.register("st_contains", graft.geo.GeoFns.stContainsXY)
    spark.udf.register("st_area", graft.geo.GeoFns.stArea)
    spark.udf.register("st_intersection_area", graft.geo.GeoFns.stIntersectionArea)
    graft.plans.BboxJoinRewrite.install(spark)
  }
}

/** `SparkSessionExtensions` hook: enables
  * `--conf spark.sql.extensions=graft.expr.GraftSessionExtensions` so plain
  * SQL sessions get the engine's functions without code changes.
  */
class GraftSessionExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(e: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    e.injectFunction((org.apache.spark.sql.catalyst.FunctionIdentifier("haversine_km"),
      new ExpressionInfo("graft.expr.HaversineKmExpr", "haversine_km"),
      (es: Seq[Expression]) => HaversineKmExpr(
        Cast(es(0), DoubleType), Cast(es(1), DoubleType),
        Cast(es(2), DoubleType), Cast(es(3), DoubleType))))
    e.injectFunction((org.apache.spark.sql.catalyst.FunctionIdentifier("geodesic_km"),
      new ExpressionInfo("graft.expr.GeodesicKmExpr", "geodesic_km"),
      (es: Seq[Expression]) => GeodesicKmExpr(
        Cast(es(0), DoubleType), Cast(es(1), DoubleType),
        Cast(es(2), DoubleType), Cast(es(3), DoubleType))))
    e.injectFunction((org.apache.spark.sql.catalyst.FunctionIdentifier("eu_to_double"),
      new ExpressionInfo("graft.expr.EuToDoubleExpr", "eu_to_double"),
      (es: Seq[Expression]) => EuToDoubleExpr(es.head)))
    // SURVEY §4b: naive st_contains joins get the bbox prefilter
    e.injectOptimizerRule(_ => graft.plans.BboxJoinRewrite)
  }
}
