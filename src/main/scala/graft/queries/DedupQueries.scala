package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.SparkEntry.scratchDir
import graft.functions.TextFns
import graft.operators.Dedup
import graft.queries.QueryFixtures._

/** Dedup queries: `Dedup`, `EditDistance` and `ContentChunks`, including
  * the persisted signature-index lifecycles.
  */
object DedupQueries {

  /** q90/q93's three planted ingestion waves over `documents`. */
  private val PlantedWavesSql: String =
    raw"""all_docs AS (
      |  SELECT doc_id, text FROM base
      |  UNION ALL
      |  SELECT doc_id + o + 1, text FROM base, off WHERE doc_id % 11 = 0
      |  UNION ALL
      |  SELECT doc_id + 2 * o + 2, regexp_replace(text, '^\S+\s*', '')
      |  FROM base, off WHERE doc_id % 25 = 0
      |  UNION ALL
      |  SELECT doc_id + 3 * o + 3, 'fresh alpha ' || doc_id || ' beta ' ||
      |    (doc_id * 7) || ' gamma delta epsilon'
      |  FROM base, off WHERE doc_id % 17 = 0)""".stripMargin

  /** q53's dedup machinery over the three-way incremental planting; the
    * final filter keeps INCOMING survivors only (doc_id > o). Shared by
    * q90 (union path) and q93 (persisted-signature-index path) — both
    * must produce the identical survivor set.
    */
  private val IncrementalDedupOracleSql: String =
    raw"""WITH base AS (SELECT doc_id, text FROM documents),
      |off AS (SELECT coalesce(max(doc_id), 0) AS o FROM base),
      |$PlantedWavesSql,
      |${dedupPassSql("", "all_docs")}
      |SELECT doc_id FROM out s, off WHERE s.doc_id > off.o""".stripMargin

  /** Rolling-index oracle (q96): pass 1 replays q90 over base ∪ wave-1;
    * `rolled` is then exactly what the signature index holds after
    * appendToSignatureIndex — ALL of base plus wave-1's surviving
    * INCOMING docs; pass 2 dedups wave 2 against that relation. Wave 2
    * plants exact copies and first-word-stripped near-dups of wave-1's
    * fresh survivors — only the APPENDED part of the index can drop
    * them — plus genuinely new docs (kept).
    */
  private val RollingDedupOracleSql: String =
    raw"""WITH base AS (SELECT doc_id, text FROM documents),
      |off AS (SELECT coalesce(max(doc_id), 0) AS o FROM base),
      |$PlantedWavesSql,
      |${dedupPassSql("", "all_docs")},
      |rolled AS (
      |  SELECT doc_id, text FROM base
      |  UNION ALL
      |  SELECT s.doc_id, s.text FROM out s, off WHERE s.doc_id > off.o),
      |all2 AS (
      |  SELECT doc_id, text FROM rolled
      |  UNION ALL
      |  SELECT doc_id + 4 * o + 4, 'fresh alpha ' || doc_id || ' beta ' ||
      |    (doc_id * 7) || ' gamma delta epsilon'
      |  FROM base, off WHERE doc_id % 17 = 0
      |  UNION ALL
      |  SELECT doc_id + 5 * o + 5, regexp_replace('fresh alpha ' || doc_id ||
      |    ' beta ' || (doc_id * 7) || ' gamma delta epsilon', '^\S+\s*', '')
      |  FROM base, off WHERE doc_id % 17 = 0
      |  UNION ALL
      |  SELECT doc_id + 6 * o + 6, 'second wave zeta ' || doc_id || ' eta ' ||
      |    (doc_id * 3) || ' theta iota kappa'
      |  FROM base, off WHERE doc_id % 19 = 0),
      |${dedupPassSql("2", "all2")}
      |SELECT doc_id FROM out2 s, off WHERE s.doc_id > 4 * off.o + 3""".stripMargin

  /** Maintenance-lifecycle oracle (q107): q96's rolling structure with the
    * index state after compaction + takedown — `rolled` minus the dropped
    * %31 base docs (compaction itself is semantics-free; corruption would
    * diverge the pass-2 hash). Wave 2 adds exact copies of the dropped
    * docs: with their identity removed from the index, the one-pass
    * closure over `all2` (which no longer contains them) keeps the
    * copies — the takedown semantics, hash-asserted.
    */
  private val MaintenanceDedupOracleSql: String =
    raw"""WITH base AS (SELECT doc_id, text FROM documents),
      |off AS (SELECT coalesce(max(doc_id), 0) AS o FROM base),
      |$PlantedWavesSql,
      |${dedupPassSql("", "all_docs")},
      |dropped AS (SELECT doc_id FROM base WHERE doc_id % 31 = 0),
      |rolled AS (
      |  SELECT b.doc_id, b.text FROM base b
      |  WHERE NOT EXISTS (SELECT 1 FROM dropped dr WHERE dr.doc_id = b.doc_id)
      |  UNION ALL
      |  SELECT s.doc_id, s.text FROM out s, off WHERE s.doc_id > off.o),
      |all2 AS (
      |  SELECT doc_id, text FROM rolled
      |  UNION ALL
      |  SELECT doc_id + 4 * o + 4, 'fresh alpha ' || doc_id || ' beta ' ||
      |    (doc_id * 7) || ' gamma delta epsilon'
      |  FROM base, off WHERE doc_id % 17 = 0
      |  UNION ALL
      |  SELECT doc_id + 5 * o + 5, regexp_replace('fresh alpha ' || doc_id ||
      |    ' beta ' || (doc_id * 7) || ' gamma delta epsilon', '^\S+\s*', '')
      |  FROM base, off WHERE doc_id % 17 = 0
      |  UNION ALL
      |  SELECT doc_id + 6 * o + 6, 'second wave zeta ' || doc_id || ' eta ' ||
      |    (doc_id * 3) || ' theta iota kappa'
      |  FROM base, off WHERE doc_id % 19 = 0
      |  UNION ALL
      |  SELECT doc_id + 7 * o + 7, text FROM base, off WHERE doc_id % 31 = 0),
      |${dedupPassSql("2", "all2")}
      |SELECT doc_id FROM out2 s, off WHERE s.doc_id > 4 * off.o + 3""".stripMargin

  /** q102: verified pairs from the shared dedup machinery, clustered by
    * a recursive-CTE transitive closure (min-label over the undirected
    * edge set — the graph is near-dup-sparse, so the closure is tiny),
    * then one survivor per component by (token count DESC, id ASC).
    */
  private val KeepBestOracleSql: String =
    raw"""WITH RECURSIVE base AS (SELECT doc_id, text FROM documents),
      |off AS (SELECT coalesce(max(doc_id), 0) AS o FROM base),
      |all_docs AS (
      |  SELECT doc_id, text FROM base
      |  UNION ALL
      |  SELECT doc_id + o + 1, text || ' zeta eta theta iota kappa'
      |  FROM base, off WHERE doc_id % 40 = 0 AND text IS NOT NULL),
      |${dedupPassSql("", "all_docs")},
      |edgesp AS (SELECT id1, id2 FROM jc WHERE i2 * 1.0 / u2 >= 0.6),
      |undp AS (SELECT id1, id2 FROM edgesp
      |  UNION ALL SELECT id2, id1 FROM edgesp),
      |nodesp AS (SELECT DISTINCT id1 AS id FROM undp),
      |reach(id, lab) AS (
      |  SELECT id, id FROM nodesp
      |  UNION
      |  SELECT u.id2, r.lab FROM reach r JOIN undp u ON u.id1 = r.id),
      |compp AS (SELECT id, min(lab) AS comp FROM reach GROUP BY id),
      |scoredp AS (SELECT s.doc_id,
      |  CASE WHEN s.text IS NULL THEN 0
      |       WHEN trim(lower(s.text)) = '' THEN 0
      |       ELSE len(regexp_split_to_array(trim(lower(s.text)), '\s+'))
      |  END AS sc FROM surv s),
      |winp AS (SELECT c.comp, c.id AS doc_id,
      |  row_number() OVER (PARTITION BY c.comp
      |    ORDER BY sp.sc DESC, c.id ASC) AS rn
      |  FROM compp c JOIN scoredp sp ON sp.doc_id = c.id),
      |removedp AS (SELECT doc_id FROM winp WHERE rn > 1)
      |SELECT s.doc_id FROM surv s
      |WHERE NOT EXISTS (SELECT 1 FROM removedp r WHERE r.doc_id = s.doc_id)""".stripMargin

  /** The Manku block-pigeonhole pair CTEs over `sim` (blk → sokb →
    * cand → prs), shared by q170, the q175 cluster oracle, and the q177
    * tiered-dedup oracle. `sokb` MIRRORS the engine's maxBucket skew
    * guard (a (block, value) key held by more than `maxBucket` docs is
    * dropped from both sides before any pair is emitted) so the gate
    * stays green even on data where the guard binds.
    */
  private def simhashPairCtes(maxBucket: Int = 1000): String =
    raw"""blk AS (SELECT doc_id, simhash, t.i,
       |    (simhash >> (15 * t.i)) & 32767 AS bval
       |  FROM sim CROSS JOIN range(4) t(i)),
       |sokb AS (SELECT i, bval FROM blk GROUP BY i, bval
       |  HAVING count(*) BETWEEN 2 AND $maxBucket),
       |cand AS (SELECT a.doc_id AS id1, b.doc_id AS id2,
       |    a.simhash AS s1, b.simhash AS s2
       |  FROM blk a JOIN sokb k ON k.i = a.i AND k.bval = a.bval
       |  JOIN blk b ON a.i = b.i AND a.bval = b.bval
       |    AND a.doc_id < b.doc_id),
       |prs AS (SELECT DISTINCT id1, id2,
       |    CAST(bit_count(xor(s1, s2)) AS BIGINT) AS hamming
       |  FROM cand WHERE bit_count(xor(s1, s2)) <= 3)""".stripMargin

  /** The OPH CTE chain (tk → sh → h → bk → grid → dens → ookb → pr),
    * shared by the q166 signature/pair oracle, the q168 containment
    * oracle, and (over tier survivors) the q176/q177 dedup-chain
    * oracles. Null and blank text both shingle to [''] — the engine
    * queries coalesce accordingly. `src` names the source relation
    * (doc_id, text); `ookb` MIRRORS the engine's maxBucket skew guard
    * (a (bucket, sig) key held by more than `maxBucket` docs is dropped
    * from both sides before any pair is emitted) so the gate stays
    * green even on data where the guard binds.
    */
  private def ophCtes(k: Int, minMatch: Int, src: String = "documents",
      maxBucket: Int = 1000, p: String = ""): String =
    raw"""${p}tk AS (SELECT doc_id,
       |  CASE WHEN coalesce(trim(text), '') = '' THEN []::VARCHAR[]
       |       ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS w
       |  FROM $src),
       |${p}sh AS (SELECT doc_id,
       |  CASE WHEN len(w) = 0 THEN ['']
       |       WHEN len(w) < 2 THEN [array_to_string(w, ' ')]
       |       ELSE list_transform(range(1, len(w)),
       |         j -> w[j] || ' ' || w[j+1]) END AS sh
       |  FROM ${p}tk),
       |${p}h AS (SELECT doc_id, unnest(list_transform(sh, s ->
       |    (104729 * list_reduce(
       |      list_prepend(0::BIGINT, list_transform(
       |        regexp_extract_all(s, '.'), c -> ascii(c)::BIGINT)),
       |      (acc, ch) -> (acc * 31 + ch) % 1000000007) + 7)
       |      % 1000000007)) AS hv
       |  FROM ${p}sh),
       |${p}bk AS (SELECT doc_id, hv % $k AS b, min(hv) AS mn FROM ${p}h
       |  GROUP BY doc_id, hv % $k),
       |${p}grid AS (SELECT d.doc_id, t.i AS b
       |  FROM (SELECT DISTINCT doc_id FROM $src) d
       |  CROSS JOIN range($k) t(i)),
       |${p}dens AS (SELECT g.doc_id, CAST(g.b AS BIGINT) AS b,
       |    CAST(k.mn + ((k.b - g.b + $k) % $k) * 1000000007 AS BIGINT)
       |      AS sig
       |  FROM ${p}grid g JOIN ${p}bk k ON k.doc_id = g.doc_id
       |  QUALIFY row_number() OVER (PARTITION BY g.doc_id, g.b
       |    ORDER BY (k.b - g.b + $k) % $k) = 1),
       |${p}ookb AS (SELECT b, sig FROM ${p}dens GROUP BY b, sig
       |  HAVING count(*) BETWEEN 2 AND $maxBucket),
       |${p}pr AS (SELECT a.doc_id AS id1, c.doc_id AS id2,
       |    CAST(count(*) AS BIGINT) AS n_match
       |  FROM ${p}dens a JOIN ${p}ookb o ON o.b = a.b AND o.sig = a.sig
       |  JOIN ${p}dens c ON a.b = c.b AND a.sig = c.sig
       |    AND a.doc_id < c.doc_id
       |  GROUP BY 1, 2 HAVING count(*) >= $minMatch)""".stripMargin

  /** q153 oracle: CDC boundaries (0-based gram positions p ≥ 1 whose
    * 3-gram hash divides), spans via lead() per doc, chunk content hash —
    * `ContentChunks.cdcChunks` replayed literally.
    */
  private def cdcChunkCtes(n: Int, dv: Int): String =
    raw"""base AS (SELECT doc_id,
       |    regexp_split_to_array(trim(lower(text)), '\s+') AS w
       |  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''),
       |grams AS (SELECT doc_id,
       |    unnest(list_transform(range(2, len(w) - $n + 2), p -> p - 1))
       |      AS pos,
       |    unnest(list_transform(range(2, len(w) - $n + 2),
       |      p -> array_to_string(w[p:p + $n - 1], ' '))) AS gram
       |  FROM base WHERE len(w) >= $n + 1),
       |bnd AS (SELECT doc_id, pos FROM (SELECT doc_id, pos,
       |    ${phSql("gram")} AS h FROM grams) WHERE h % $dv = 0),
       |starts AS (SELECT doc_id, 0 AS s FROM base
       |  UNION ALL SELECT doc_id, pos FROM bnd),
       |spans AS (SELECT st.doc_id, st.s,
       |    coalesce(lead(st.s) OVER (PARTITION BY st.doc_id ORDER BY st.s),
       |      len(b.w)) AS e, b.w
       |  FROM starts st JOIN base b ON b.doc_id = st.doc_id),
       |chunks AS (SELECT doc_id, s, e,
       |    ${phSql("array_to_string(w[s + 1:e], ' ')")} AS chash
       |  FROM spans)""".stripMargin

  private def cdcOracleSql(n: Int, dv: Int): String =
    (s"WITH ${cdcChunkCtes(n, dv)},\n" +
      raw"""perdoc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS a
       |  FROM chunks GROUP BY doc_id),
       |dups AS (SELECT chash, CAST(count(DISTINCT doc_id) AS BIGINT) AS a,
       |    CAST(count(*) AS BIGINT) AS b
       |  FROM chunks GROUP BY chash HAVING count(DISTINCT doc_id) >= 2)
       |SELECT 'doc' AS kind, doc_id AS k, a, CAST(0 AS BIGINT) AS b
       |FROM perdoc
       |UNION ALL SELECT 'dup', chash, a, b FROM dups""".stripMargin)

  /** q159 oracle: FastCDC's sequential recurrence as a recursive CTE.
    * The trick keeping the recursive term join-only (no aggregates): a
    * precomputed `nh` relation gives, for every gram position p, the
    * first divisor hit at or after p (a reverse-ordered window min), so
    * each recursion step looks up exactly one row at p = s + minLen.
    */
  private def cdcBoundedOracleSql(n: Int, dv: Int, mn: Int,
      mx: Int): String =
    raw"""WITH RECURSIVE base AS (SELECT doc_id,
       |    regexp_split_to_array(trim(lower(text)), '\s+') AS w
       |  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''),
       |lens AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS len FROM base),
       |grams AS (SELECT doc_id,
       |    unnest(list_transform(range(1, len(w) - $n + 2), p -> p - 1))
       |      AS pos,
       |    unnest(list_transform(range(1, len(w) - $n + 2),
       |      p -> array_to_string(w[p:p + $n - 1], ' '))) AS gram
       |  FROM base WHERE len(w) >= $n),
       |gh AS (SELECT doc_id, pos,
       |    CASE WHEN ${phSql("gram")} % $dv = 0 THEN pos END AS hitpos
       |  FROM grams),
       |nh AS (SELECT doc_id, pos,
       |    min(hitpos) OVER (PARTITION BY doc_id ORDER BY pos DESC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nexthit
       |  FROM gh),
       |ch AS (
       |  SELECT l.doc_id, CAST(0 AS BIGINT) AS s,
       |    CAST(CASE
       |      WHEN h.nexthit IS NOT NULL
       |        AND h.nexthit <= least(0 + $mx, l.len - $n)
       |        THEN h.nexthit
       |      WHEN 0 + $mx < l.len THEN 0 + $mx
       |      ELSE l.len END AS BIGINT) AS e, l.len
       |  FROM lens l LEFT JOIN nh h ON h.doc_id = l.doc_id
       |    AND h.pos = 0 + $mn
       |  UNION ALL
       |  SELECT c.doc_id, c.e AS s,
       |    CAST(CASE
       |      WHEN h.nexthit IS NOT NULL
       |        AND h.nexthit <= least(c.e + $mx, c.len - $n)
       |        THEN h.nexthit
       |      WHEN c.e + $mx < c.len THEN c.e + $mx
       |      ELSE c.len END AS BIGINT) AS e, c.len
       |  FROM ch c LEFT JOIN nh h ON h.doc_id = c.doc_id
       |    AND h.pos = c.e + $mn
       |  WHERE c.e < c.len)
       |SELECT ch.doc_id, ch.s AS start, ch.e AS "end",
       |  ${phSql("array_to_string(b.w[ch.s + 1:ch.e], ' ')")} AS chash
       |FROM ch JOIN base b ON b.doc_id = ch.doc_id""".stripMargin

  /** The winnowed-fingerprint CTE chain (base → fps), shared by q154 and
    * the q165 cross-doc coverage oracle.
    */
  private def winnowFpCtes(k: Int, w: Int): String =
    raw"""base AS (SELECT doc_id,
       |    regexp_split_to_array(trim(lower(text)), '\s+') AS w
       |  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''),
       |grams AS (
       |  SELECT doc_id,
       |    unnest(list_transform(range(1, len(w) - $k + 2), p -> p - 1))
       |      AS pos,
       |    unnest(list_transform(range(1, len(w) - $k + 2),
       |      p -> array_to_string(w[p:p + $k - 1], ' '))) AS gram
       |  FROM base WHERE len(w) >= $k
       |  UNION ALL
       |  SELECT doc_id, 0 AS pos, array_to_string(w, ' ') AS gram
       |  FROM base WHERE len(w) < $k),
       |g AS (SELECT doc_id, pos, ${phSql("gram")} AS h FROM grams),
       |cnt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS m FROM g
       |  GROUP BY doc_id),
       |smn AS (SELECT g.doc_id, min(g.h) AS mn
       |  FROM g JOIN cnt c ON c.doc_id = g.doc_id
       |  WHERE c.m <= $w GROUP BY g.doc_id),
       |smallfp AS (SELECT g.doc_id, max(g.pos) AS pos, s.mn AS h
       |  FROM g JOIN smn s ON g.doc_id = s.doc_id AND g.h = s.mn
       |  GROUP BY g.doc_id, s.mn),
       |wst AS (SELECT g.doc_id, g.pos AS s, c.m,
       |    min(g.h) OVER (PARTITION BY g.doc_id ORDER BY g.pos
       |      ROWS BETWEEN CURRENT ROW AND ${w - 1} FOLLOWING) AS mn
       |  FROM g JOIN cnt c ON c.doc_id = g.doc_id WHERE c.m > $w),
       |sel AS (SELECT t.doc_id, t.s, t.mn, max(g2.pos) AS pos
       |  FROM (SELECT * FROM wst WHERE s <= m - $w) t
       |  JOIN g g2 ON g2.doc_id = t.doc_id
       |    AND g2.pos BETWEEN t.s AND t.s + ${w - 1} AND g2.h = t.mn
       |  GROUP BY t.doc_id, t.s, t.mn),
       |fps AS (SELECT DISTINCT doc_id, pos, mn AS h FROM sel
       |  UNION SELECT doc_id, pos, h FROM smallfp)""".stripMargin

  /** q154 oracle: winnowing's rightmost-minimum per window — frame min,
    * then a ranged join back to pick the rightmost position at that
    * minimum; short docs (m ≤ w) take the whole-stream minimum.
    */
  private def winnowOracleSql(k: Int, w: Int): String =
    raw"""WITH ${winnowFpCtes(k, w)},
       |perdoc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS a FROM fps
       |  GROUP BY doc_id),
       |shared AS (SELECT h, CAST(count(DISTINCT doc_id) AS BIGINT) AS a,
       |    CAST(count(*) AS BIGINT) AS b
       |  FROM fps GROUP BY h HAVING count(DISTINCT doc_id) >= 2)
       |SELECT 'fp' AS kind, doc_id AS k, a, CAST(0 AS BIGINT) AS b
       |FROM perdoc
       |UNION ALL SELECT 'shared', h, a, b FROM shared""".stripMargin

  /** The cross-doc shared-window SPAN chain (winnowFpCtes → tok → sh →
    * mk → x → y → z → sp): islands-merged coverage spans per doc, shared
    * by the q165 coverage oracle and the q181 removal oracle.
    */
  private def winnowSpanCtes(k: Int, w: Int, minDocs: Int): String =
    raw"""${winnowFpCtes(k, w)},
       |tok AS (SELECT doc_id, CASE WHEN text IS NULL OR trim(text) = ''
       |    THEN CAST(0 AS BIGINT)
       |    ELSE CAST(len(regexp_split_to_array(trim(lower(text)), '\s+'))
       |      AS BIGINT) END AS n
       |  FROM documents),
       |sh AS (SELECT h FROM fps GROUP BY h
       |  HAVING count(DISTINCT doc_id) >= $minDocs),
       |mk AS (SELECT f.doc_id, CAST(f.pos AS BIGINT) AS pos,
       |    least(CAST(f.pos + $k AS BIGINT), t.n) AS e
       |  FROM fps f JOIN sh USING (h) JOIN tok t ON t.doc_id = f.doc_id),
       |x AS (SELECT doc_id, pos, e,
       |    max(e) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
       |  FROM mk),
       |y AS (SELECT doc_id, pos, e,
       |    CASE WHEN pm IS NULL OR pos > pm THEN 1 ELSE 0 END AS nw
       |  FROM x),
       |z AS (SELECT doc_id, pos, e,
       |    sum(nw) OVER (PARTITION BY doc_id ORDER BY pos) AS grp FROM y),
       |sp AS (SELECT doc_id, min(pos) AS s, max(e) AS en FROM z
       |  GROUP BY doc_id, grp)""".stripMargin

  /** q165 oracle: shared-fingerprint windows islands-merged per doc —
    * the same x/y/z/sp gaps-and-islands chain as q160's — with the
    * keep threshold compared by integer cross-multiplication.
    */
  private def winnowCoverageOracleSql(k: Int, w: Int, minDocs: Int,
      num: Long, den: Long): String =
    raw"""WITH ${winnowSpanCtes(k, w, minDocs)},
       |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nsp,
       |    CAST(sum(en - s) AS BIGINT) AS dup FROM sp GROUP BY doc_id)
       |SELECT d.doc_id, t.n AS n_tokens,
       |  COALESCE(a.nsp, 0) AS n_spans,
       |  COALESCE(a.dup, 0) AS dup_tokens,
       |  CAST(CASE WHEN $den * COALESCE(a.dup, 0) <= $num * t.n
       |    THEN 1 ELSE 0 END AS BIGINT) AS keep
       |FROM documents d JOIN tok t ON t.doc_id = d.doc_id
       |LEFT JOIN agg a ON a.doc_id = d.doc_id""".stripMargin

  /** q181 oracle: the q165 span chain, then the REWRITE — original-case
    * tokens with 0-based positions, tokens inside any span removed,
    * survivors re-joined in order (string_agg ORDER BY pos); null text
    * stays null, blank/fully-covered docs yield ''.
    */
  private def winnowRemoveOracleSql(k: Int, w: Int, minDocs: Int): String =
    raw"""WITH ${winnowSpanCtes(k, w, minDocs)},
       |tk2 AS (SELECT doc_id,
       |    unnest(regexp_split_to_array(trim(text), '\s+')) AS tok,
       |    unnest(list_transform(
       |      range(1, len(regexp_split_to_array(trim(text), '\s+')) + 1),
       |      j -> CAST(j - 1 AS BIGINT))) AS pos
       |  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''),
       |kept AS (SELECT t.doc_id, t.pos, t.tok FROM tk2 t
       |  WHERE NOT EXISTS (SELECT 1 FROM sp s
       |    WHERE s.doc_id = t.doc_id AND t.pos >= s.s AND t.pos < s.en)),
       |ct AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean
       |  FROM kept GROUP BY doc_id),
       |agg AS (SELECT doc_id, CAST(sum(en - s) AS BIGINT) AS dup
       |  FROM sp GROUP BY doc_id)
       |SELECT d.doc_id,
       |  CASE WHEN d.text IS NULL THEN NULL
       |       ELSE COALESCE(ct.clean, '') END AS clean_text,
       |  t.n AS n_tokens,
       |  COALESCE(a.dup, 0) AS dup_tokens
       |FROM documents d JOIN tok t ON t.doc_id = d.doc_id
       |LEFT JOIN ct ON ct.doc_id = d.doc_id
       |LEFT JOIN agg a ON a.doc_id = d.doc_id""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    // Dedup tier 1: exact content-hash dedup.
    QuerySpec("q10_dedup_exact", (s, dir) => {
      Dedup.exact(t(s, dir, "documents"), "doc_id", "text")
    },
      // null-text docs are singleton survivors (engine policy: "no content"
      // is not "same content") — mirrored here instead of grouping NULLs
      """SELECT md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS content_hash,
        |  min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents WHERE text IS NOT NULL GROUP BY 1
        |UNION ALL
        |SELECT NULL, doc_id, 1 FROM documents WHERE text IS NULL""".stripMargin),

    // Dedup tier 2: MinHash signatures, exploded to scalar rows
    // (doc_id, hash_idx, hash_val) so the harness can sort+hash them, with
    // a full DuckDB oracle (the poly-hash + affine permutations are plain
    // integer arithmetic — see TextFns.polyHash/minhashPerm).
    // MinHash signatures recomputed independently: poly-31 shingle hash mod
    // 1e9+7, k=16 affine permutations, min over distinct tokens (shingleN=1).
    QuerySpec("q24_minhash_sig", (s, dir) => {
      Dedup.minhashSignatures(t(s, dir, "documents"), "doc_id", "text", shingleN = 1, k = 16)
        .select(col("doc_id"), posexplode(col("minhash")))
        .select(col("doc_id"), col("pos").cast("long").as("hash_idx"),
          col("col").as("hash_val"))
    },
      """WITH d AS (SELECT doc_id,
        |  CASE WHEN coalesce(trim(text), '') = '' THEN ['']
        |       ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS sh
        |  FROM documents),
        |h AS (SELECT doc_id, list_transform(sh, s -> list_reduce(
        |    list_prepend(0::BIGINT, list_transform(regexp_extract_all(s, '.'),
        |      c -> ascii(c)::BIGINT)),
        |    (acc, ch) -> (acc * 31 + ch) % 1000000007)) AS hs FROM d)
        |SELECT doc_id, i AS hash_idx,
        |  list_min(list_transform(hs, v ->
        |    (((2 * i + 1) * 104729) % 1000000007 * v + (i * 12582917 + 7)) % 1000000007))
        |    AS hash_val
        |FROM h CROSS JOIN range(16) t(i)""".stripMargin),

    // Dedup tier 2b: LSH candidate pairs via banded minhash self-join.
    // Near-dups are planted (every 50th doc re-appears with its first token
    // dropped) so the operator's yield is meaningful: LSH recovers the
    // planted pairs while 4-row bands suppress the quadratic noise floor.
    // Full LSH-candidate recomputation: signatures as in q24 (shingleN=2
    // bigrams), 4 bands × 4 rows, bucket size in [2, 1000], distinct pairs.
    // The engine joins on a 64-bit hash of the band slice; the oracle joins
    // on the slice itself — identical pairs absent a 2^-64 hash collision.
    QuerySpec("q25_minhash_pairs", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      // offset as a LITERAL (see q90): collision-safe, empty-table safe,
      // and the probe's planting costs one tiny plan-build agg
      val o = docs.agg(coalesce(max(col("doc_id")), lit(0L))).head().getLong(0)
      val planted = docs.filter(col("doc_id") % 50 === 0)
        .select((col("doc_id") + lit(o + 1)).as("doc_id"),
          regexp_replace(col("text"), "^\\S+\\s*", "").as("text"))
      Dedup.minhashCandidatePairs(docs.unionByName(planted), "doc_id", "text",
        shingleN = 2, k = 16, bands = 4)
    },
      """WITH base AS (SELECT doc_id, text FROM documents),
        |off AS (SELECT coalesce(max(doc_id), 0) AS o FROM base),
        |all_docs AS (
        |  SELECT doc_id, text FROM base
        |  UNION ALL
        |  SELECT doc_id + o + 1, regexp_replace(text, '^\S+\s*', '')
        |  FROM base, off WHERE doc_id % 50 = 0),
        |tk AS (SELECT doc_id,
        |  CASE WHEN coalesce(trim(text), '') = '' THEN []::VARCHAR[]
        |       ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS w
        |  FROM all_docs),
        |sh AS (SELECT doc_id,
        |  CASE WHEN len(w) = 0 THEN ['']
        |       WHEN len(w) < 2 THEN [array_to_string(w, ' ')]
        |       ELSE list_transform(range(1, len(w)), j -> w[j] || ' ' || w[j+1]) END AS sh
        |  FROM tk),
        |h AS (SELECT doc_id, list_transform(sh, s -> list_reduce(
        |    list_prepend(0::BIGINT, list_transform(regexp_extract_all(s, '.'),
        |      c -> ascii(c)::BIGINT)),
        |    (acc, ch) -> (acc * 31 + ch) % 1000000007)) AS hs FROM sh),
        |sig AS (SELECT doc_id, i,
        |  list_min(list_transform(hs, v ->
        |    (((2 * i + 1) * 104729) % 1000000007 * v + (i * 12582917 + 7)) % 1000000007)) AS mh
        |  FROM h CROSS JOIN range(16) t(i)),
        |band AS (SELECT doc_id, i // 4 AS b, string_agg(mh::VARCHAR, ',' ORDER BY i) AS key
        |  FROM sig GROUP BY doc_id, i // 4),
        |ok AS (SELECT b, key FROM band GROUP BY b, key
        |  HAVING count(*) BETWEEN 2 AND 1000)
        |SELECT DISTINCT x.doc_id AS id1, y.doc_id AS id2
        |FROM band x JOIN band y ON x.b = y.b AND x.key = y.key AND x.doc_id < y.doc_id
        |JOIN ok ON ok.b = x.b AND ok.key = x.key""".stripMargin),

    // Dedup tier 3: exact bigram-Jaccard verification on candidate pairs.
    // Both pair members must have >=2 tokens (the oracle's window-based
    // bigram derivation has no single-shingle fallback for shorter docs).
    QuerySpec("q26_jaccard_pairs", (s, dir) => {
      val docs = t(s, dir, "documents")
      val long = docs.filter(TextFns.tokenCount(col("text")) >= 2)
      val pairs = long.select(col("doc_id").as("id1"), (col("doc_id") + 1).as("id2"))
        .join(long.select(col("doc_id").as("id2")), "id2")
      Dedup.jaccardOnPairs(pairs, docs, "doc_id", "text", shingleN = 2)
        .select(col("id1"), col("id2"), col("inter").cast("long").as("inter"),
          col("uni").cast("long").as("uni"),
          round(col("jaccard"), 6).as("jaccard"))
    },
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w,
        |    unnest(range(1, len(regexp_split_to_array(trim(lower(text)), '\s+')) + 1)) AS pos
        |  FROM documents),
        |bi AS (
        |  SELECT DISTINCT doc_id, w || ' ' || lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS bg
        |  FROM toks QUALIFY bg IS NOT NULL),
        |cnt AS (SELECT doc_id, count(*) AS n FROM bi GROUP BY 1),
        |long AS (SELECT doc_id FROM documents
        |  WHERE len(regexp_split_to_array(trim(text), '\s+')) >= 2),
        |pairs AS (SELECT a.doc_id AS id1, b.doc_id AS id2 FROM long a
        |  JOIN long b ON b.doc_id = a.doc_id + 1),
        |inter AS (
        |  SELECT p.id1, p.id2, count(*) AS inter FROM pairs p
        |  JOIN bi x ON x.doc_id = p.id1 JOIN bi y ON y.doc_id = p.id2 AND y.bg = x.bg
        |  GROUP BY 1, 2)
        |SELECT p.id1, p.id2, coalesce(i.inter, 0) AS inter,
        |  c1.n + c2.n - coalesce(i.inter, 0) AS uni,
        |  round(coalesce(i.inter, 0) * 1.0 / (c1.n + c2.n - coalesce(i.inter, 0)), 6) AS jaccard
        |FROM pairs p
        |LEFT JOIN inter i ON i.id1 = p.id1 AND i.id2 = p.id2
        |JOIN cnt c1 ON c1.doc_id = p.id1 JOIN cnt c2 ON c2.doc_id = p.id2""".stripMargin),

    // Transitive dedup clustering: connected components by iterative
    // min-label propagation over a deterministic chain construction
    // (consecutive doc ids within groups of 8 → diameter-7 components).
    // Oracle: component = floor(id/8)*8, pure arithmetic.
    QuerySpec("q65_connected_components", (s, dir) => {
      val pairs = t(s, dir, "documents")
        .filter(col("doc_id") % 8 =!= 7)
        .select(col("doc_id").as("id1"), (col("doc_id") + 1).as("id2"))
      Dedup.connectedComponents(pairs, "id1", "id2")
        .select(col("id").as("doc_id"), col("comp"))
    },
      """WITH d AS (SELECT doc_id FROM documents WHERE doc_id % 8 <> 7),
        |nodes AS (SELECT doc_id AS id FROM d UNION SELECT doc_id + 1 FROM d)
        |SELECT id AS doc_id, (id // 8) * 8 AS comp FROM nodes""".stripMargin),

    // Full dedup pipeline: exact -> minhash-LSH -> jaccard-verified removal
    // over a corpus with planted near-dups (rows-only: minhash hashing is
    // engine-native). Survivor count < corpus+planted proves removal.
    // Full dedup pipeline recomputed: exact dedup (null-text singletons),
    // LSH candidates over survivors (as q25, %25 planting), distinct-bigram
    // Jaccard >= 0.6, pairwise id2 removal.
    QuerySpec("q53_dedup_corpus", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      // offset as a LITERAL (see q90): one tiny plan-build agg, so the
      // bench row measures dedupCorpus, not probe construction
      val o = docs.agg(coalesce(max(col("doc_id")), lit(0L))).head().getLong(0)
      val planted = docs.filter(col("doc_id") % 25 === 0)
        .select((col("doc_id") + lit(o + 1)).as("doc_id"),
          regexp_replace(col("text"), "^\\S+\\s*", "").as("text"))
      Dedup.dedupCorpus(docs.unionByName(planted), "doc_id", "text",
          threshold = 0.6, shingleN = 2, k = 16, bands = 4)
        .select(col("doc_id"))
    },
      """WITH base AS (SELECT doc_id, text FROM documents),
        |off AS (SELECT coalesce(max(doc_id), 0) AS o FROM base),
        |all_docs AS (
        |  SELECT doc_id, text FROM base
        |  UNION ALL
        |  SELECT doc_id + o + 1, regexp_replace(text, '^\S+\s*', '')
        |  FROM base, off WHERE doc_id % 25 = 0),
        |keep AS (
        |  SELECT min(doc_id) AS doc_id FROM all_docs WHERE text IS NOT NULL
        |  GROUP BY md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g')))
        |  UNION ALL SELECT doc_id FROM all_docs WHERE text IS NULL),
        |surv AS (SELECT a.doc_id, a.text FROM all_docs a JOIN keep k ON k.doc_id = a.doc_id),
        |tk AS (SELECT doc_id,
        |  CASE WHEN coalesce(trim(text), '') = '' THEN []::VARCHAR[]
        |       ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS w
        |  FROM surv),
        |sh AS (SELECT doc_id,
        |  CASE WHEN len(w) = 0 THEN ['']
        |       WHEN len(w) < 2 THEN [array_to_string(w, ' ')]
        |       ELSE list_transform(range(1, len(w)), j -> w[j] || ' ' || w[j+1]) END AS sh
        |  FROM tk),
        |h AS (SELECT doc_id, list_transform(sh, s -> list_reduce(
        |    list_prepend(0::BIGINT, list_transform(regexp_extract_all(s, '.'),
        |      c -> ascii(c)::BIGINT)),
        |    (acc, ch) -> (acc * 31 + ch) % 1000000007)) AS hs FROM sh),
        |sig AS (SELECT doc_id, i,
        |  list_min(list_transform(hs, v ->
        |    (((2 * i + 1) * 104729) % 1000000007 * v + (i * 12582917 + 7)) % 1000000007)) AS mh
        |  FROM h CROSS JOIN range(16) t(i)),
        |band AS (SELECT doc_id, i // 4 AS b, string_agg(mh::VARCHAR, ',' ORDER BY i) AS key
        |  FROM sig GROUP BY doc_id, i // 4),
        |ok AS (SELECT b, key FROM band GROUP BY b, key
        |  HAVING count(*) BETWEEN 2 AND 1000),
        |pairs AS (SELECT DISTINCT x.doc_id AS id1, y.doc_id AS id2
        |  FROM band x JOIN band y ON x.b = y.b AND x.key = y.key AND x.doc_id < y.doc_id
        |  JOIN ok ON ok.b = x.b AND ok.key = x.key),
        |ws AS (SELECT s.doc_id,
        |  CASE WHEN d.text IS NULL THEN NULL ELSE list_distinct(s.sh) END AS ws
        |  FROM sh s JOIN surv d ON d.doc_id = s.doc_id),
        |jc AS (SELECT p.id1, p.id2,
        |  len(list_intersect(x.ws, y.ws)) AS i2,
        |  len(list_distinct(list_concat(x.ws, y.ws))) AS u2
        |  FROM pairs p JOIN ws x ON x.doc_id = p.id1 JOIN ws y ON y.doc_id = p.id2),
        |removed AS (SELECT DISTINCT id2 FROM jc WHERE i2 * 1.0 / u2 >= 0.6)
        |SELECT doc_id FROM surv s
        |WHERE NOT EXISTS (SELECT 1 FROM removed r WHERE r.id2 = s.doc_id)""".stripMargin),

    // Incremental ingestion-batch dedup: existing corpus + an incoming
    // batch of exact copies (dropped), first-word-stripped near-dups
    // (dropped where bigram-jaccard holds) and fresh docs (kept) — the
    // daily-ingest shape; output = surviving INCOMING ids only.
    // q53's machinery over the three-way incremental planting; the final
    // filter keeps INCOMING survivors only (doc_id > o).
    QuerySpec("q90_dedup_incremental", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      // offset as a LITERAL: one tiny agg at plan-build time instead of a
      // crossJoin-on-1-row-agg inside every planted branch — the bench row
      // now measures the operator, not probe construction
      val o = docs.agg(coalesce(max(col("doc_id")), lit(0L))).head().getLong(0)
      val exactCopies = docs.filter(col("doc_id") % 11 === 0)
        .select((col("doc_id") + lit(o + 1)).as("doc_id"), col("text"))
      val nearDups = docs.filter(col("doc_id") % 25 === 0)
        .select((col("doc_id") + lit(2 * o + 2)).as("doc_id"),
          regexp_replace(col("text"), "^\\S+\\s*", "").as("text"))
      val fresh = docs.filter(col("doc_id") % 17 === 0)
        .select((col("doc_id") + lit(3 * o + 3)).as("doc_id"),
          format_string("fresh alpha %d beta %d gamma delta epsilon",
            col("doc_id"), col("doc_id") * 7).as("text"))
      Dedup.dedupIncremental(docs,
          exactCopies.unionByName(nearDups).unionByName(fresh),
          "doc_id", "text", threshold = 0.6, shingleN = 2, k = 16, bands = 4)
        .select(col("doc_id"))
    },
      IncrementalDedupOracleSql),

    // Index-path incremental dedup: persist the signature/band index over
    // the existing corpus ONCE, then answer q90's exact probe THROUGH it —
    // same oracle, so any index-path divergence (combined bucket caps,
    // partition pruning, stored shingles) breaks the hash. The probe never
    // reads existing text: it is not even in the index.
    // same oracle as q90: the persisted-signature-index path must
    // reproduce the union-path incremental dedup exactly
    QuerySpec("q93_dedup_index", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val o = docs.agg(coalesce(max(col("doc_id")), lit(0L))).head().getLong(0)
      val exactCopies = docs.filter(col("doc_id") % 11 === 0)
        .select((col("doc_id") + lit(o + 1)).as("doc_id"), col("text"))
      val nearDups = docs.filter(col("doc_id") % 25 === 0)
        .select((col("doc_id") + lit(2 * o + 2)).as("doc_id"),
          regexp_replace(col("text"), "^\\S+\\s*", "").as("text"))
      val fresh = docs.filter(col("doc_id") % 17 === 0)
        .select((col("doc_id") + lit(3 * o + 3)).as("doc_id"),
          format_string("fresh alpha %d beta %d gamma delta epsilon",
            col("doc_id"), col("doc_id") * 7).as("text"))
      val idx = scratchDir("graft_didx")
        .resolve("idx").toString
      // 16 buckets at gate scale (same rationale as q79's text index)
      Dedup.writeSignatureIndex(docs, "doc_id", "text", idx,
        shingleN = 2, k = 16, bands = 4, nBuckets = 16)
      Dedup.dedupIncrementalIndexed(
          exactCopies.unionByName(nearDups).unionByName(fresh), idx,
          "doc_id", "text", threshold = 0.6)
        .select(col("doc_id"))
    },
      IncrementalDedupOracleSql),

    // Rolling-index incremental dedup: probe wave 1 through the persisted
    // index, APPEND its survivors (appendToSignatureIndex), then probe a
    // second wave whose dups target the APPENDED docs — exact copies and
    // first-word-stripped near-dups of wave-1's fresh survivors (droppable
    // only because the append made the index the corpus' rolling identity)
    // plus genuinely new docs (kept). Output = wave-2 survivors only.
    QuerySpec("q96_dedup_rolling", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val o = docs.agg(coalesce(max(col("doc_id")), lit(0L))).head().getLong(0)
      def freshText(idc: org.apache.spark.sql.Column) = format_string(
        "fresh alpha %d beta %d gamma delta epsilon", idc, idc * 7)
      val wave1 = docs.filter(col("doc_id") % 11 === 0)
        .select((col("doc_id") + lit(o + 1)).as("doc_id"), col("text"))
        .unionByName(docs.filter(col("doc_id") % 25 === 0)
          .select((col("doc_id") + lit(2 * o + 2)).as("doc_id"),
            regexp_replace(col("text"), "^\\S+\\s*", "").as("text")))
        .unionByName(docs.filter(col("doc_id") % 17 === 0)
          .select((col("doc_id") + lit(3 * o + 3)).as("doc_id"),
            freshText(col("doc_id")).as("text")))
      val wave2 = docs.filter(col("doc_id") % 17 === 0)
        .select((col("doc_id") + lit(4 * o + 4)).as("doc_id"),
          freshText(col("doc_id")).as("text"))
        .unionByName(docs.filter(col("doc_id") % 17 === 0)
          .select((col("doc_id") + lit(5 * o + 5)).as("doc_id"),
            regexp_replace(freshText(col("doc_id")), "^\\S+\\s*", "").as("text")))
        .unionByName(docs.filter(col("doc_id") % 19 === 0)
          .select((col("doc_id") + lit(6 * o + 6)).as("doc_id"),
            format_string("second wave zeta %d eta %d theta iota kappa",
              col("doc_id"), col("doc_id") * 3).as("text")))
      val idx = scratchDir("graft_ridx")
        .resolve("idx").toString
      Dedup.writeSignatureIndex(docs, "doc_id", "text", idx,
        shingleN = 2, k = 16, bands = 4, nBuckets = 16)
      val surv1 = Dedup.dedupIncrementalIndexed(wave1, idx, "doc_id", "text",
        threshold = 0.6)
      Dedup.appendToSignatureIndex(surv1, "doc_id", "text", idx)
      Dedup.dedupIncrementalIndexed(wave2, idx, "doc_id", "text",
          threshold = 0.6)
        .select(col("doc_id"))
    },
      RollingDedupOracleSql),

    // Index-MAINTENANCE lifecycle: build → probe wave 1 → append its
    // survivors → COMPACT → REMOVE the %31 base docs (plus one id that
    // was never indexed — the actually-present accounting path) → probe
    // wave 2. Wave 2 plants q96's groups PLUS exact copies of the removed
    // docs, which must now SURVIVE (removal strips dedup identity) —
    // their presence in the hash-matched output is the takedown
    // assertion; any compaction corruption diverges the same hash.
    QuerySpec("q107_dedup_maintenance", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val o = docs.agg(coalesce(max(col("doc_id")), lit(0L))).head().getLong(0)
      def freshText(idc: org.apache.spark.sql.Column) = format_string(
        "fresh alpha %d beta %d gamma delta epsilon", idc, idc * 7)
      val wave1 = docs.filter(col("doc_id") % 11 === 0)
        .select((col("doc_id") + lit(o + 1)).as("doc_id"), col("text"))
        .unionByName(docs.filter(col("doc_id") % 25 === 0)
          .select((col("doc_id") + lit(2 * o + 2)).as("doc_id"),
            regexp_replace(col("text"), "^\\S+\\s*", "").as("text")))
        .unionByName(docs.filter(col("doc_id") % 17 === 0)
          .select((col("doc_id") + lit(3 * o + 3)).as("doc_id"),
            freshText(col("doc_id")).as("text")))
      val wave2 = docs.filter(col("doc_id") % 17 === 0)
        .select((col("doc_id") + lit(4 * o + 4)).as("doc_id"),
          freshText(col("doc_id")).as("text"))
        .unionByName(docs.filter(col("doc_id") % 17 === 0)
          .select((col("doc_id") + lit(5 * o + 5)).as("doc_id"),
            regexp_replace(freshText(col("doc_id")), "^\\S+\\s*", "").as("text")))
        .unionByName(docs.filter(col("doc_id") % 19 === 0)
          .select((col("doc_id") + lit(6 * o + 6)).as("doc_id"),
            format_string("second wave zeta %d eta %d theta iota kappa",
              col("doc_id"), col("doc_id") * 3).as("text")))
        .unionByName(docs.filter(col("doc_id") % 31 === 0)
          .select((col("doc_id") + lit(7 * o + 7)).as("doc_id"), col("text")))
      val idx = scratchDir("graft_midx").resolve("idx").toString
      Dedup.writeSignatureIndex(docs, "doc_id", "text", idx,
        shingleN = 2, k = 16, bands = 4, nBuckets = 16)
      val surv1 = Dedup.dedupIncrementalIndexed(wave1, idx, "doc_id", "text",
        threshold = 0.6)
      Dedup.appendToSignatureIndex(surv1, "doc_id", "text", idx)
      Dedup.compactSignatureIndex(s, idx)
      Dedup.removeFromSignatureIndex(s, idx,
        docs.filter(col("doc_id") % 31 === 0).select(col("doc_id"))
          .unionByName(s.range(1).select((lit(100 * o + 100)).as("doc_id"))),
        "doc_id")
      Dedup.dedupIncrementalIndexed(wave2, idx, "doc_id", "text",
          threshold = 0.6)
        .select(col("doc_id"))
    },
      MaintenanceDedupOracleSql),

    // Survivor-POLICY transitive dedup: planted near-dups are LONGER
    // than their originals (five tokens appended), so keep-best-by-token-
    // count must flip survivorship to the planted copy wherever LSH finds
    // the pair — the opposite answer from every min-id path. Oracle: the
    // shared machinery's verified pairs + recursive-CTE connected
    // components + per-component argmax on (token count, −id).
    QuerySpec("q102_dedup_keep_best", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val o = docs.agg(coalesce(max(col("doc_id")), lit(0L))).head().getLong(0)
      val planted = docs
        .filter(col("doc_id") % 40 === 0 && col("text").isNotNull)
        .select((col("doc_id") + lit(o + 1)).as("doc_id"),
          concat(col("text"), lit(" zeta eta theta iota kappa")).as("text"))
      val all = docs.unionByName(planted)
        .withColumn("score", TextFns.tokenCount(col("text")).cast("double"))
      Dedup.dedupCorpusTransitiveBy(all, "doc_id", "text", "score",
          threshold = 0.6, shingleN = 2, k = 16, bands = 4)
        .select(col("doc_id"))
    },
      KeepBestOracleSql),

    // CONTENT-DEFINED CHUNKING (LBFS/FastCDC family): boundaries where a
    // local 3-gram rolling hash divides 32, so an insertion early in a
    // doc shifts no later chunk identity — chunk-hash dedup then catches
    // shared tails whole-doc hashing misses. One narrow map per doc + one
    // map-side-combined agg on the chunk hash. Integer-exact throughout.
    QuerySpec("q153_cdc_chunks", (s, dir) => {
      import graft.operators.ContentChunks
      val docs = t(s, dir, "documents")
      val chunks = ContentChunks.cdcChunks(docs, "doc_id", "text",
        n = 3, divisor = 32)
      val perDoc = chunks.groupBy("doc_id").agg(count(lit(1)).as("a"))
        .select(lit("doc").as("kind"), col("doc_id").as("k"), col("a"),
          lit(0L).as("b"))
      val dups = ContentChunks.cdcSharedChunks(chunks, minDocs = 2)
        .select(lit("dup").as("kind"), col("chash").as("k"),
          col("n_docs").as("a"), col("n_occ").as("b"))
      perDoc.unionByName(dups)
    },
      cdcOracleSql(3, 32)),

    // WINNOWING (Schleimer et al. 2003, the MOSS fingerprint): rightmost
    // minimum of every 8-window of 5-gram hashes — any shared substring
    // of >= 12 tokens guarantees a shared fingerprint. Fingerprint
    // density is bounded (~2/w per position), so the relation stays
    // ~len/4 per doc at any scale; the shared-hash report is one
    // map-side-combined agg.
    QuerySpec("q154_winnow_fingerprints", (s, dir) => {
      import graft.operators.ContentChunks
      val docs = t(s, dir, "documents")
      val fps = ContentChunks.winnowFingerprints(docs, "doc_id", "text",
        k = 5, w = 8)
      val perDoc = fps.groupBy("doc_id").agg(count(lit(1)).as("a"))
        .select(lit("fp").as("kind"), col("doc_id").as("k"), col("a"),
          lit(0L).as("b"))
      val shared = ContentChunks.winnowShared(fps, minDocs = 2)
        .select(lit("shared").as("kind"), col("fhash").as("k"),
          col("n_docs").as("a"), col("n_occ").as("b"))
      perDoc.unionByName(shared)
    },
      winnowOracleSql(5, 8)),

    // CDC CHUNK-LEVEL DEDUP RATIO: the storage/compute question a
    // 100 TB curator asks first -- per source, how many content-defined
    // chunks are DISTINCT, and what fraction of tokens survive
    // chunk-hash dedup. Composes the q153 CDC chain with two map-side-
    // combined aggregations; the oracle re-derives the chunking from
    // the rolling-hash definition.
    // q222: the q153 CDC chain re-derived, then per-source total vs
    // distinct-chunk token mass and the ppm ratio.
    QuerySpec("q222_cdc_dedup_ratio", (s, dir) => {
      import graft.operators.ContentChunks
      val docs = t(s, dir, "documents")
      val chunks = ContentChunks.cdcChunks(docs, "doc_id", "text",
          n = 3, divisor = 32)
        .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
        .select(col("source"), col("chash"),
          (col("end") - col("start")).cast("long").as("toks"))
      val tot = chunks.groupBy("source")
        .agg(count(lit(1)).as("n_chunks"), sum(col("toks")).as("sum_toks"))
      val uniq = chunks.groupBy(col("source"), col("chash"))
        .agg(min(col("toks")).as("toks"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_unique"), sum(col("toks")).as("uniq_toks"))
      tot.join(uniq, Seq("source"))
        .withColumn("dedup_ppm",
          floor(col("uniq_toks").cast("double") * 1000000 / col("sum_toks"))
            .cast("long"))
    },
      (s"WITH ${cdcChunkCtes(3, 32)},\n" +
      raw"""cs AS (SELECT d.source, c.chash,
         |    CAST(c.e - c.s AS BIGINT) AS toks
         |  FROM chunks c JOIN documents d ON d.doc_id = c.doc_id),
         |tt AS (SELECT source, CAST(count(*) AS BIGINT) AS n_chunks,
         |    CAST(sum(toks) AS BIGINT) AS sum_toks
         |  FROM cs GROUP BY source),
         |uu AS (SELECT source, CAST(count(*) AS BIGINT) AS n_unique,
         |    CAST(sum(toks) AS BIGINT) AS uniq_toks
         |  FROM (SELECT source, chash, min(toks) AS toks FROM cs
         |    GROUP BY source, chash) GROUP BY source)
         |SELECT tt.source, tt.n_chunks, tt.sum_toks, uu.n_unique,
         |  uu.uniq_toks,
         |  CAST(floor(CAST(uu.uniq_toks AS DOUBLE) * 1000000
         |    / tt.sum_toks) AS BIGINT) AS dedup_ppm
         |FROM tt JOIN uu ON uu.source = tt.source""".stripMargin)),

    // BOUNDED CDC (the real FastCDC rule): first divisor hit in
    // [s+8, s+64] cuts, else a forced cut at s+64 — bounds change which
    // boundaries exist, so the oracle walks the same sequential
    // recurrence (recursive CTE over a precomputed next-hit relation;
    // the recursion itself is join-only). Every span and chunk hash is
    // gated.
    QuerySpec("q159_cdc_bounded", (s, dir) => {
      import graft.operators.ContentChunks
      ContentChunks.cdcChunksBounded(t(s, dir, "documents"), "doc_id",
        "text", n = 3, divisor = 32, minLen = 8, maxLen = 64)
        .select(col("doc_id"), col("start"), col("end"), col("chash"))
    },
      cdcBoundedOracleSql(3, 32, 8, 64)),

    // Embedding-cosine near-dup detection via RP-LSH buckets (planted
    // duplicates guarantee yield; rows-only: bucket hashing engine-native).
    // Exact all-pairs cosine >= 0.999 over corpus + planted identical
    // copies — the LSH-bucketed engine must find exactly these (identical
    // vectors always share a bucket; random 64-dim pairs never reach 0.999).
    QuerySpec("q57_embedding_neardup", (s, dir) => {
      val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      // literal offset (see q90): probe construction out of the bench row
      val o = e.agg(coalesce(max(col("vec_id")), lit(0L))).head().getLong(0)
      val planted = e.filter(col("vec_id") % 100 === 0)
        .select((col("vec_id") + lit(o + 1)).as("vec_id"), col("embedding"))
      // 16 bits: identical planted vectors always share a bucket, while
      // merely-clustered vectors split (per-bit agreement ^ 16); the
      // maxBucket skew guard bounds any residual dense bucket
      Dedup.embeddingNearDup(e.unionByName(planted), "vec_id", "embedding",
          threshold = 0.999, nBits = 16)
        .select(col("id1"), col("id2"), round(col("cos"), 4).as("cos"))
    },
      """WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |off AS (SELECT coalesce(max(vec_id), 0) AS o FROM base),
        |av AS (SELECT vec_id, v FROM base
        |  UNION ALL SELECT vec_id + o + 1, v FROM base, off WHERE vec_id % 100 = 0),
        |nv AS (SELECT vec_id, v,
        |  list_reduce(list_transform(range(1, len(v) + 1), j -> v[j] * v[j]), (x, y) -> x + y) AS nn
        |  FROM av),
        |p AS (SELECT a.vec_id AS id1, b.vec_id AS id2, a.v AS v1, b.v AS v2,
        |  a.nn AS na, b.nn AS nb FROM nv a JOIN nv b ON a.vec_id < b.vec_id),
        |s AS (SELECT id1, id2,
        |  list_reduce(list_transform(range(1, len(v1) + 1), j -> v1[j] * v2[j]), (x, y) -> x + y) AS dp,
        |  na, nb FROM p)
        |SELECT id1, id2, round(dp / (sqrt(na) * sqrt(nb)), 4) AS cos
        |FROM s WHERE dp / (sqrt(na) * sqrt(nb)) >= 0.999""".stripMargin),

    // EDIT-DISTANCE SIMILARITY SELF-JOIN (PassJoin segment signatures +
    // exact Levenshtein verify) on the 40-char normalized doc prefix.
    // The candidate scheme is pigeonhole-complete, so the engine's
    // signature-join pair set must equal the oracle's brute-force
    // cross-join — integer distances, exact gate.
    // q163: brute-force cross-join ground truth — the engine's PassJoin
    // signature scheme must reproduce it exactly (pigeonhole-complete
    // candidates + exact verify; integer distances, no float anywhere).
    QuerySpec("q163_edit_distance_join", (s, dir) => {
      import graft.operators.EditDistance
      EditDistance.edSelfJoin(t(s, dir, "documents"), "doc_id",
        substring(lower(col("text")), 1, 40), tau = 2)
    },
      raw"""WITH k AS (SELECT doc_id, substr(lower(text), 1, 40) AS key
         |  FROM documents WHERE text IS NOT NULL)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(levenshtein(a.key, b.key) AS BIGINT) AS dist
         |FROM k a JOIN k b ON a.doc_id < b.doc_id
         |WHERE levenshtein(a.key, b.key) <= 2""".stripMargin),

    // SAMPLED cross-doc substring-dedup coverage: winnowed fingerprints
    // shared by >= 2 distinct docs, k-token windows islands-merged per
    // doc, keep thresholded by integer cross-multiplication — the
    // 1/(w+1)-shuffle tier of Lee et al. substring dedup (exact tier =
    // q110/q111's repeatedSpans family).
    QuerySpec("q165_winnow_cross_doc", (s, dir) => {
      import graft.operators.ContentChunks
      ContentChunks.winnowDupCoverage(t(s, dir, "documents"), "doc_id",
        "text", k = 5, w = 8, minDocs = 2, maxNum = 1L, maxDen = 5L)
    },
      winnowCoverageOracleSql(5, 8, 2, 1L, 5L)),

    // ONE-PERMUTATION HASHING (single shingle hash binned mod k,
    // rotation-densified) — the k×-cheaper MinHash: every densified
    // signature entry AND every pair agreeing on >= 4 of 16 entries is
    // integer-exact under the oracle.
    // q166: the OPH signature recomputed in SQL — one permutation-0
    // affine hash per bigram shingle, min per (h mod 16) bucket, empty
    // buckets borrowing from the circular right at distance · p — then
    // pairs agreeing on >= 4 entries. All integer arithmetic.
    QuerySpec("q166_oph_signatures", (s, dir) => {
      import graft.operators.Dedup
      val sigs = Dedup.ophSignatures(t(s, dir, "documents"), "doc_id",
        "text", shingleN = 2, k = 16)
      val pairs = Dedup.ophMatchPairs(sigs, minMatch = 4L)
      sigs.select(lit("sig").as("kind"), col("doc_id").as("k1"),
          col("bucket").as("k2"), col("sig").as("v"))
        .unionByName(pairs.select(lit("pair").as("kind"),
          col("id1").as("k1"), col("id2").as("k2"),
          col("n_match").as("v")))
    },
      raw"""WITH ${ophCtes(16, 4)}
         |SELECT 'sig' AS kind, doc_id AS k1, b AS k2, sig AS v FROM dens
         |UNION ALL SELECT 'pair', id1, id2, n_match FROM pr""".stripMargin),

    // ASYMMETRIC NEAR-DUP: containment |A∩B|/min over the q166 OPH
    // candidate pairs — catches a short doc quoted inside a larger one
    // where Jaccard reads near zero. Text coalesced to '' so null and
    // blank shingle identically on both engines.
    // q168: containment on the q166 OPH candidate pairs — distinct
    // bigram-shingle intersection over min set size, thresholded by
    // integer cross-multiplication. The asymmetric near-dup detector
    // (one doc quoting/containing another that Jaccard misses when the
    // containing doc is much larger).
    QuerySpec("q168_containment", (s, dir) => {
      import graft.operators.Dedup
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"))
      val sigs = Dedup.ophSignatures(docs, "doc_id", "text",
        shingleN = 2, k = 16)
      val pairs = Dedup.ophMatchPairs(sigs, minMatch = 4L)
      Dedup.containmentOnPairs(pairs, docs, "doc_id", "text",
        shingleN = 2, num = 4L, den = 5L)
    },
      raw"""WITH ${ophCtes(16, 4)},
         |e AS (SELECT DISTINCT doc_id, g FROM
         |  (SELECT doc_id, unnest(sh) AS g FROM sh)),
         |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM e
         |  GROUP BY doc_id),
         |iv AS (SELECT p.id1, p.id2, CAST(count(*) AS BIGINT) AS inter
         |  FROM pr p JOIN e a ON a.doc_id = p.id1
         |  JOIN e b ON b.doc_id = p.id2 AND b.g = a.g
         |  GROUP BY 1, 2)
         |SELECT p.id1, p.id2, COALESCE(i.inter, 0) AS inter,
         |  s1.n AS n1, s2.n AS n2,
         |  CAST(CASE WHEN 5 * COALESCE(i.inter, 0) >= 4 * least(s1.n, s2.n)
         |    AND least(s1.n, s2.n) > 0 THEN 1 ELSE 0 END AS BIGINT)
         |    AS contained
         |FROM pr p
         |LEFT JOIN iv i ON i.id1 = p.id1 AND i.id2 = p.id2
         |JOIN sz s1 ON s1.doc_id = p.id1
         |JOIN sz s2 ON s2.doc_id = p.id2""".stripMargin),

    // SIMHASH HAMMING-BALL near-dup pairs (Manku et al. 2007): 4-block
    // pigeonhole candidates + codegen'd bit_count(xor) verify, Hamming
    // <= 3. Sound AND complete — the oracle replays the identical
    // pigeonhole, so the pair sets must be equal.
    // q170: the Manku pigeonhole replayed — 4 disjoint 15-bit blocks,
    // equi join on (block, value), bit_count(xor) verify. Integer-exact.
    QuerySpec("q170_simhash_pairs", (s, dir) => {
      import graft.operators.Dedup
      Dedup.simhashNearDupPairs(t(s, dir, "documents"), "doc_id", "text",
        maxHamming = 3)
    },
      raw"""WITH ${simhashCtes()},
        |${simhashPairCtes()}
        |SELECT id1, id2, hamming FROM prs""".stripMargin),

    // OPH-BACKED FULL DEDUP: exact → OPH >= 4-of-16 candidates → exact
    // bigram-Jaccard verify → pairwise removal. The measured-equal-recall
    // pipeline at 1/16 of MinHash's signature hashing; every stage
    // replayed in the oracle, survivors hash-gated.
    // q176: the full OPH-dedup chain replayed — exact-dup keep, OPH
    // signatures over survivors, >= 4-of-16 pairs, distinct-bigram
    // Jaccard >= 0.6, id2 removal. Pure integer except the final ratio,
    // which DuckDB evaluates on exact integer operands.
    QuerySpec("q176_dedup_oph", (s, dir) => {
      import graft.operators.Dedup
      Dedup.dedupCorpusOph(t(s, dir, "documents"), "doc_id", "text",
        threshold = 0.6, shingleN = 2, k = 16, minMatch = 4L)
        .select(col("doc_id"))
    },
      raw"""WITH keep AS (
         |  SELECT min(doc_id) AS doc_id FROM documents WHERE text IS NOT NULL
         |  GROUP BY md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g')))
         |  UNION ALL SELECT doc_id FROM documents WHERE text IS NULL),
         |surv AS (SELECT a.doc_id, a.text FROM documents a
         |  JOIN keep kk ON kk.doc_id = a.doc_id),
         |${ophCtes(16, 4, src = "surv")},
         |ws AS (SELECT s.doc_id,
         |  CASE WHEN d.text IS NULL THEN NULL ELSE list_distinct(s.sh) END
         |    AS ws
         |  FROM sh s JOIN surv d ON d.doc_id = s.doc_id),
         |jc AS (SELECT p.id1, p.id2,
         |  len(list_intersect(x.ws, y.ws)) AS i2,
         |  len(list_distinct(list_concat(x.ws, y.ws))) AS u2
         |  FROM pr p JOIN ws x ON x.doc_id = p.id1
         |  JOIN ws y ON y.doc_id = p.id2),
         |removed AS (SELECT DISTINCT id2 FROM jc WHERE i2 * 1.0 / u2 >= 0.6)
         |SELECT s.doc_id FROM surv s
         |WHERE NOT EXISTS (SELECT 1 FROM removed r
         |  WHERE r.id2 = s.doc_id)""".stripMargin),

    // TIERED DEDUP (the composed detector portfolio): exact hash →
    // simhash Hamming ball (≤3) → OPH ≥ 4-of-16 + bigram-Jaccard ≥ 0.6,
    // each tier only over the previous tier's survivors, with a ledger
    // naming the cheapest tier that caught every removed doc. The whole
    // cascade — survivor set AND per-tier attribution — sits under one
    // oracle hash (the q149 pattern).
    // q177: the tiered cascade replayed stage by stage — exact keep,
    // simhash pigeonhole pairs over tier-1 survivors (simhashCtes /
    // simhashPairCtes, src = surv1), OPH + Jaccard over tier-2
    // survivors (ophCtes, src = surv2, CTE names prefixed 'o' to avoid
    // colliding with the simhash chain's tk), ledger = one row per doc.
    QuerySpec("q177_dedup_tiered", (s, dir) => {
      import graft.operators.Dedup
      Dedup.dedupCorpusTiered(t(s, dir, "documents"), "doc_id", "text",
        maxHamming = 3, threshold = 0.6, shingleN = 2, k = 16,
        minMatch = 4L)
    },
      raw"""WITH keep AS (
         |  SELECT min(doc_id) AS doc_id FROM documents WHERE text IS NOT NULL
         |  GROUP BY md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g')))
         |  UNION ALL SELECT doc_id FROM documents WHERE text IS NULL),
         |surv1 AS (SELECT a.doc_id, a.text FROM documents a
         |  JOIN keep kk ON kk.doc_id = a.doc_id),
         |${simhashCtes(src = "surv1")},
         |${simhashPairCtes()},
         |rm2 AS (SELECT DISTINCT id2 AS doc_id FROM prs),
         |surv2 AS (SELECT s.doc_id, s.text FROM surv1 s
         |  WHERE NOT EXISTS (SELECT 1 FROM rm2 r WHERE r.doc_id = s.doc_id)),
         |${ophCtes(16, 4, src = "surv2", p = "o")},
         |ws AS (SELECT s.doc_id,
         |  CASE WHEN d.text IS NULL THEN NULL ELSE list_distinct(s.sh) END
         |    AS ws
         |  FROM osh s JOIN surv2 d ON d.doc_id = s.doc_id),
         |jc AS (SELECT p.id1, p.id2,
         |  len(list_intersect(x.ws, y.ws)) AS i2,
         |  len(list_distinct(list_concat(x.ws, y.ws))) AS u2
         |  FROM opr p JOIN ws x ON x.doc_id = p.id1
         |  JOIN ws y ON y.doc_id = p.id2),
         |rm3 AS (SELECT DISTINCT id2 AS doc_id FROM jc
         |  WHERE i2 * 1.0 / u2 >= 0.6)
         |SELECT d.doc_id, 'exact' AS tier FROM documents d
         |WHERE NOT EXISTS (SELECT 1 FROM keep k WHERE k.doc_id = d.doc_id)
         |UNION ALL SELECT doc_id, 'simhash' FROM rm2
         |UNION ALL SELECT doc_id, 'oph' FROM rm3
         |UNION ALL SELECT s.doc_id, 'kept' FROM surv2 s
         |WHERE NOT EXISTS (SELECT 1 FROM rm3 r
         |  WHERE r.doc_id = s.doc_id)""".stripMargin),

    // EDIT-DISTANCE JOIN WITH THE SKEW VALVE BINDING (q163's operator,
    // capped): every key shares an 8-char boilerplate prefix, so the
    // first PassJoin segment's bucket degenerates toward all-pairs
    // (500² = 250k candidate products at sf0.01, 25M at sf0.1);
    // maxPairsPerBucket = 20000 provably drops it on every sf, and the
    // surviving output is exactly the same-suffix collisions through
    // the second segment — keys one digit apart are LOST with the
    // dropped bucket, which is the valve's documented trade. The oracle
    // replays the capped candidate scheme literally (segment + shifted-
    // substring signatures, nx·np cap filter, Levenshtein verify).
    // q178: the capped PassJoin replayed literally at τ=1 over length-13
    // keys — index signatures (2 segments), probe signatures (shifted
    // substrings at ±1, distinct per doc), the nx·np ≤ 20000 bucket cap
    // (which DROPS the degenerate shared-prefix segment-0 bucket), and
    // the exact Levenshtein ≤ 1 verify over surviving candidates. Probe
    // entries for candidate lengths 12/14 are omitted: the index holds
    // only length-13 keys, so those buckets have nx = 0 and can neither
    // pass the inner-joined cap filter nor produce a pair.
    QuerySpec("q178_edit_join_capped", (s, dir) => {
      import graft.operators.EditDistance
      EditDistance.edSelfJoin(t(s, dir, "documents"), "doc_id",
        format_string("xxxxxxxx-%04d", pmod(col("doc_id"), lit(100L))),
        tau = 1, maxPairsPerBucket = 20000L)
    },
      raw"""WITH k AS (SELECT doc_id,
         |    printf('xxxxxxxx-%04d', doc_id % 100) AS key
         |  FROM documents),
         |idx AS (
         |  SELECT doc_id, 0 AS i, substr(key, 1, 7) AS seg FROM k
         |  UNION ALL SELECT doc_id, 1, substr(key, 8, 6) FROM k),
         |prb AS (
         |  SELECT DISTINCT doc_id, i, seg FROM (
         |    SELECT doc_id, 0 AS i, substr(key, 1, 7) AS seg FROM k
         |    UNION ALL SELECT doc_id, 0, substr(key, 2, 7) FROM k
         |    UNION ALL SELECT doc_id, 1, substr(key, 7, 6) FROM k
         |    UNION ALL SELECT doc_id, 1, substr(key, 8, 6) FROM k)),
         |ok AS (SELECT x.i, x.seg FROM
         |  (SELECT i, seg, count(*) AS nx FROM idx GROUP BY 1, 2) x
         |  JOIN (SELECT i, seg, count(*) AS np FROM prb GROUP BY 1, 2) p
         |    ON p.i = x.i AND p.seg = x.seg
         |  WHERE x.nx * p.np <= 20000),
         |cand AS (SELECT DISTINCT least(p.doc_id, x.doc_id) AS id_a,
         |    greatest(p.doc_id, x.doc_id) AS id_b
         |  FROM prb p JOIN ok o ON o.i = p.i AND o.seg = p.seg
         |  JOIN idx x ON x.i = p.i AND x.seg = p.seg
         |    AND x.doc_id <> p.doc_id)
         |SELECT c.id_a, c.id_b,
         |  CAST(levenshtein(a.key, b.key) AS BIGINT) AS dist
         |FROM cand c JOIN k a ON a.doc_id = c.id_a
         |JOIN k b ON b.doc_id = c.id_b
         |WHERE levenshtein(a.key, b.key) <= 1""".stripMargin),

    // SUBSTRING-DEDUP APPLY (the q165 chain's missing half): REWRITE
    // every doc with its cross-doc shared windows cut out — same
    // winnowing spans, then token-level removal and in-order rebuild.
    // clean_text is hash-gated verbatim, so any span-boundary or
    // ordering slip breaks the gate.
    QuerySpec("q181_winnow_remove", (s, dir) => {
      import graft.operators.ContentChunks
      ContentChunks.winnowDupRemove(t(s, dir, "documents"), "doc_id",
        "text", k = 5, w = 8, minDocs = 2)
    },
      winnowRemoveOracleSql(5, 8, 2)),

    // CROSS-SOURCE DUPLICATION MATRIX: verified OPH near-dup pairs
    // labeled by source, counted per unordered source pair — the
    // "which sources copy from which" curation dashboard (diagonal =
    // intra-source boilerplate, off-diagonal = syndication/mirroring).
    // q182: the q166 OPH pair chain + source labels + unordered-pair
    // counting (least/greatest) — pure integer.
    QuerySpec("q182_dup_source_matrix", (s, dir) => {
      import graft.operators.Dedup
      val docs = t(s, dir, "documents")
      val sigs = Dedup.ophSignatures(docs, "doc_id", "text",
        shingleN = 2, k = 16)
      val pairs = Dedup.ophMatchPairs(sigs, minMatch = 4L)
      Dedup.pairSourceMatrix(pairs, docs, "doc_id", "source")
    },
      raw"""WITH ${ophCtes(16, 4)}
         |SELECT least(a.source, b.source) AS src_a,
         |  greatest(a.source, b.source) AS src_b,
         |  CAST(count(*) AS BIGINT) AS n_pairs
         |FROM pr p
         |JOIN documents a ON a.doc_id = p.id1
         |JOIN documents b ON b.doc_id = p.id2
         |GROUP BY 1, 2""".stripMargin),

    // IMAGE PERCEPTUAL-HASH NEAR-DUP under the oracle (the q74/q98
    // planted-pixel trick, now for aHash): render a 16×16 PNG per
    // selected doc whose 2×2-pixel cells are bright (200) or dark (50)
    // by a closed form in doc_id — a per-class 8×8 stripe pattern plus
    // one or two forced-bright "flip" cells. Cell means are then exact
    // integers, the grid mean sits strictly between 50 and 200, and the
    // decoded aHash equals the planted bright-cell bitmap — which the
    // oracle recomputes arithmetically, no image codec needed. Pairs =
    // the generalized Hamming-ball join (Manku pigeonhole) at ≤ 3 bits,
    // gated against the oracle's brute-force ground truth (the
    // pigeonhole is sound AND complete). Any codec/raster/blocking/
    // hashing break shifts a bit and breaks the hash compare.
    // q180: the planted aHash recomputed arithmetically — bright(c, id)
    // closed form, hash = Σ 2^c over bright cells (cell 63 never bright,
    // so no sign-bit overflow), pairs = brute-force Hamming ≤ 3 ground
    // truth that the engine's pigeonhole join must reproduce exactly.
    QuerySpec("q180_image_ahash_pairs", (s, dir) => {
      import graft.multimodal.Multimodal
      import graft.operators.Dedup
      val genPng = udf { (id: Long) =>
        val p = (id % 6).toInt
        val f1 = ((id * 7) % 63).toInt
        val f2 = if (id % 2 == 0) ((id * 13) % 63).toInt else -1
        val img = new java.awt.image.BufferedImage(16, 16,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < 16) {
          var x = 0
          while (x < 16) {
            val c = (y / 2) * 8 + (x / 2)
            val bright = (c <= 62 && (c + p) % 4 == 0) || c == f1 || c == f2
            val g = if (bright) 200 else 50
            img.setRGB(x, y, (g << 16) | (g << 8) | g)
            x += 1
          }
          y += 1
        }
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", bos)
        bos.toByteArray
      }
      val media = t(s, dir, "documents").select(col("doc_id"))
        .filter(col("doc_id").isNotNull && col("doc_id") % 7 === 0)
        .withColumn("media", genPng(col("doc_id")))
      val hashed = media.select(col("doc_id"),
        Multimodal.aHash64(col("media")).as("ahash"))
      val pairs = Dedup.hammingPairs(hashed, "doc_id", "ahash",
        bits = 64, maxHamming = 3)
      hashed.select(lit("hash").as("kind"), col("doc_id").as("k1"),
          lit(0L).as("k2"), col("ahash").as("v"))
        .unionByName(pairs.select(lit("pair").as("kind"),
          col("id1").as("k1"), col("id2").as("k2"),
          col("hamming").as("v")))
    },
      raw"""WITH d AS (SELECT doc_id, doc_id % 6 AS p,
         |    (doc_id * 7) % 63 AS f1,
         |    CASE WHEN doc_id % 2 = 0 THEN (doc_id * 13) % 63
         |         ELSE -1 END AS f2
         |  FROM documents WHERE doc_id IS NOT NULL AND doc_id % 7 = 0),
         |cells AS (SELECT d.doc_id, t.c,
         |    CASE WHEN (t.c <= 62 AND (t.c + d.p) % 4 = 0)
         |      OR t.c = d.f1 OR t.c = d.f2 THEN 1 ELSE 0 END AS bright
         |  FROM d CROSS JOIN range(64) t(c)),
         |h AS (SELECT doc_id,
         |    CAST(sum(CASE WHEN bright = 1 THEN 1::BIGINT << c
         |      ELSE 0 END) AS BIGINT) AS ahash
         |  FROM cells GROUP BY 1),
         |pairs AS (SELECT a.doc_id AS id1, b.doc_id AS id2,
         |    CAST(bit_count(xor(a.ahash, b.ahash)) AS BIGINT) AS hamming
         |  FROM h a JOIN h b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.ahash, b.ahash)) <= 3)
         |SELECT 'hash' AS kind, doc_id AS k1, CAST(0 AS BIGINT) AS k2,
         |  ahash AS v FROM h
         |UNION ALL SELECT 'pair', id1, id2, hamming FROM pairs""".stripMargin),

    // TWO-RELATION EDIT-DISTANCE JOIN (the R⋈S record-linkage form of
    // q163's PassJoin): a "master" table of 20-char doc prefixes vs a
    // "batch" of the same prefixes with one character substituted —
    // every batch row must link back to its source (lev ≤ 1) plus any
    // genuine near-collisions; oracle = brute-force cross join ground
    // truth, which the pigeonhole-complete signature join must equal.
    // q190: brute-force R×S ground truth for the two-relation PassJoin.
    QuerySpec("q190_edit_join_rs", (s, dir) => {
      import graft.operators.EditDistance
      val base = t(s, dir, "documents")
        .filter(col("text").isNotNull)
      val key = substring(lower(col("text")), 1, 20)
      val left = base.select(col("doc_id"), key.as("k"))
      val right = base.select((col("doc_id") + 100000L).as("rid"),
        concat(substring(key, 1, 6), lit("z"),
          substring(key, 8, 13)).as("rk"))
      EditDistance.edJoin(left, "doc_id", col("k"),
        right, "rid", col("rk"), tau = 1)
    },
      raw"""WITH l AS (SELECT doc_id, substr(lower(text), 1, 20) AS k
         |  FROM documents WHERE text IS NOT NULL),
         |r AS (SELECT doc_id + 100000 AS rid,
         |    substr(substr(lower(text), 1, 20), 1, 6) || 'z' ||
         |    substr(substr(lower(text), 1, 20), 8, 13) AS rk
         |  FROM documents WHERE text IS NOT NULL)
         |SELECT l.doc_id AS left_id, r.rid AS right_id,
         |  CAST(levenshtein(l.k, r.rk) AS BIGINT) AS dist
         |FROM l CROSS JOIN r
         |WHERE levenshtein(l.k, r.rk) <= 1""".stripMargin),

    // SIMHASH NEAR-DUP CLUSTERS: connected components (pointer-jumping)
    // over the q170 Hamming-ball pair graph, min-id survivor per
    // cluster — the complete "find → cluster → keep one" simhash dedup
    // chain of Manku et al.
    // q175: min-label transitive closure over the q170 pair graph
    // (recursive CTE — near-dup graphs are sparse so the closure is
    // tiny) with the min-id survivor per cluster.
    QuerySpec("q175_simhash_clusters", (s, dir) => {
      import graft.operators.Dedup
      val pairs = Dedup.simhashNearDupPairs(t(s, dir, "documents"),
        "doc_id", "text", maxHamming = 3)
      Dedup.connectedComponents(pairs, "id1", "id2")
        .select(col("id").as("doc_id"), col("comp"),
          when(col("id") === col("comp"), lit(1L)).otherwise(lit(0L))
            .as("keep"))
    },
      raw"""WITH RECURSIVE ${simhashCtes()},
        |${simhashPairCtes()},
        |und AS (SELECT id1, id2 FROM prs
        |  UNION ALL SELECT id2, id1 FROM prs),
        |nod AS (SELECT DISTINCT id1 AS id FROM und),
        |reach(id, lab) AS (
        |  SELECT id, id FROM nod
        |  UNION
        |  SELECT u.id2, r.lab FROM reach r JOIN und u ON u.id1 = r.id),
        |cmp AS (SELECT id, min(lab) AS comp FROM reach GROUP BY id)
        |SELECT id AS doc_id, comp,
        |  CAST(CASE WHEN id = comp THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM cmp""".stripMargin),

    // MULTISET (bag) MINHASH: every shingle occurrence is a distinct
    // element (base·31 + occurrence index), so collisions estimate the
    // weighted Jaccard Σmin/Σmax — "fifty copies of the boilerplate
    // line" is no longer identical to "one copy". Signature exploded to
    // scalar rows, full integer oracle (occurrence index = row_number
    // per (doc, shingle)).
    // q172: bag-minhash recomputed — bigram shingles with occurrence
    // indices via row_number, element base (poly·31 + occ) mod p, k=16
    // affine permutation minima. Pure integer arithmetic.
    QuerySpec("q172_multiset_minhash", (s, dir) => {
      import graft.operators.Dedup
      Dedup.multisetMinhashSignatures(t(s, dir, "documents"), "doc_id",
        "text", shingleN = 2, k = 16)
        .select(col("doc_id"), posexplode(col("minhash")))
        .select(col("doc_id"), col("pos").cast("long").as("hash_idx"),
          col("col").as("hash_val"))
    },
      raw"""WITH tk AS (SELECT doc_id,
         |  CASE WHEN coalesce(trim(text), '') = '' THEN []::VARCHAR[]
         |       ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS w
         |  FROM documents),
         |sh0 AS (SELECT doc_id,
         |    unnest(list_transform(range(1, len(w)),
         |      j -> w[j] || ' ' || w[j+1])) AS s,
         |    unnest(list_transform(range(1, len(w)), j -> j)) AS pos
         |  FROM tk WHERE len(w) >= 2
         |  UNION ALL SELECT doc_id, array_to_string(w, ' ') AS s, 1 AS pos
         |  FROM tk WHERE len(w) = 1
         |  UNION ALL SELECT doc_id, '' AS s, 1 AS pos
         |  FROM tk WHERE len(w) = 0),
         |occ AS (SELECT doc_id, s,
         |    row_number() OVER (PARTITION BY doc_id, s ORDER BY pos) AS o
         |  FROM sh0),
         |hb AS (SELECT doc_id, (${phSql("s")} * 31 + o) % 1000000007 AS h0
         |  FROM occ)
         |SELECT doc_id, t.i AS hash_idx,
         |  min((((2 * t.i + 1) * 104729) % 1000000007 * h0
         |    + (t.i * 12582917 + 7)) % 1000000007) AS hash_val
         |FROM hb CROSS JOIN range(16) t(i) GROUP BY 1, 2""".stripMargin),

    // SOFT DEDUP (exact tier): duplicates are down-WEIGHTED, not
    // dropped -- per document its normalized-content-hash multiplicity
    // and the 1/d sampling weight. Duplicates planted by unioning a
    // shifted copy of every 7th document, so both branches carry mass;
    // the oracle groups on the same normalization.
    // q244: multiplicity via the same whitespace/case normalization
    // the Spark side hashes (the md5 is injective here, so grouping
    // on the normalized string is the same partition).
    QuerySpec("q244_soft_dedup", (s, dir) => {
      import graft.operators.Dedup
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val planted = docs.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      Dedup.softDedupWeights(docs.unionByName(planted), "doc_id", "text")
    },
      raw"""WITH ad AS (SELECT doc_id, text FROM documents
         |    UNION ALL
         |    SELECT doc_id + 1000000, text FROM documents
         |    WHERE doc_id % 7 = 0),
         |h AS (SELECT doc_id, CASE WHEN text IS NULL THEN NULL
         |    ELSE regexp_replace(lower(trim(text)), '\s+', ' ', 'g')
         |    END AS ntext FROM ad),
         |sz AS (SELECT ntext, CAST(count(*) AS BIGINT) AS dup_n
         |  FROM h WHERE ntext IS NOT NULL GROUP BY ntext)
         |SELECT h.doc_id, CAST(COALESCE(sz.dup_n, 1) AS BIGINT) AS dup_n,
         |  CAST(1000000 // COALESCE(sz.dup_n, 1) AS BIGINT) AS weight_ppm
         |FROM h LEFT JOIN sz USING (ntext)""".stripMargin),

    // SOFT DEDUP (near tier): multiplicity = near-dup CLUSTER size --
    // MinHash-LSH candidates, Jaccard-verified, closed under connected
    // components. Fixture is closed-form provable: per base doc,
    // 1 + (base % 4) clones with synthetic disjoint-token texts, so
    // every cluster is exactly one clone family and the oracle derives
    // sizes from the formula (the q65 planted-component pattern); the
    // genuinely-near (non-identical) path is spec-covered.
    // q245: closed-form planted clusters (the q65 pattern) — each
    // clone family is one near-dup component by construction, so the
    // oracle derives sizes from the clone formula without replaying
    // the LSH.
    QuerySpec("q245_soft_dedup_near", (s, dir) => {
      import graft.operators.Dedup
      val fam = t(s, dir, "documents").filter(col("doc_id") % 10 === 0)
        .select(col("doc_id").as("base"),
          (lit(1) + pmod(expr("doc_id div 10"), lit(4))).cast("int")
            .as("g"))
      val clones = fam.select(col("base"), col("g"),
          explode(sequence(lit(0), col("g") - 1)).as("j"))
        .select((col("base") * 10 + col("j")).as("doc_id"),
          array_join(transform(sequence(lit(0), lit(11)),
            i => concat(lit("t"), col("base"), lit("_"), i)), " ")
            .as("text"))
      Dedup.softDedupWeightsNear(clones, "doc_id", "text",
        threshold = 0.8, shingleN = 2, k = 16, bands = 8)
    },
      raw"""WITH b AS (SELECT doc_id AS base,
         |    1 + (doc_id // 10) % 4 AS g
         |  FROM documents WHERE doc_id % 10 = 0),
         |c AS (SELECT base, g, unnest(range(0, 4)) AS j FROM b)
         |SELECT CAST(base * 10 + j AS BIGINT) AS doc_id,
         |  CAST(g AS BIGINT) AS dup_n,
         |  CAST(1000000 // g AS BIGINT) AS weight_ppm
         |FROM c WHERE j < g""".stripMargin)
  )
}
