package graft.queries

import org.apache.spark.sql.functions._

import graft.core.{Artifacts, Tables}
import graft.ext.{Dedup, HtmlExtraction, Multimodal, Similarity, Sketches, TextAnalysis}
import graft.functions.{GraftFunctions, IvfPq, IvfQuantizer, PqBounds, SignBucketing}
import graft.window.Windows

/** Training-data-pipeline extension operators: dedup, similarity search,
  * text analysis, multimodal plumbing, FFT. Queries whose implementation
  * depends on engine-specific hashing (minhash/simhash/xxhash) have no SQL
  * oracle — the driver records a rows-only check; their semantics are
  * pinned by unit tests instead.
  */
object ExtQueries {

  /** The ANN demo query vector: the vec_id=0 embedding, fetched once
    * driver-side (shared by the brute-force / LSH / IVF variants).
    */
  private def queryVec(s: org.apache.spark.sql.SparkSession, d: String): Array[Double] =
    Tables.embeddings(s, d).filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toArray

  /** IVF index memo ([[Artifacts.memo]]): build once (KMeans fit +
    * assignment, persisted), probe many times — the FAISS lifecycle.
    * `x_ann_ivf_build` owns the build cost in the bench; `x_ann_ivf`
    * measures the probe.
    */
  private def ivfFor(s: org.apache.spark.sql.SparkSession, d: String) =
    Artifacts.memo(s, ("ivf", d)) {
      val (assigned, km) = Similarity.ivfIndex(
        Tables.embeddings(s, d).filter(col("vec_id") > 0), "embedding", nlist = 8)
      val cached = assigned.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      cached.count() // materialize: later probes touch only the cached cells
      (cached, km)
    } { case (df, _) => df.unpersist() }

  /** The auto-nlist KMeans quantizer memo (`x_ivf_knn_join_auto`,
    * `x_ivf_pq_knn_join`): same build-once lifecycle as [[ivfFor]], but
    * `nlist` follows `count(*)` by the [[graft.ext.Similarity.autoNlist]]
    * balance rule, and the one count also serves the fit cap. Only the
    * quantizer (plain arrays, no blocks) is kept; the join assigns cells
    * itself.
    */
  private def ivfQuantizerForAuto(s: org.apache.spark.sql.SparkSession, d: String) =
    Artifacts.memo(s, ("ivf_auto", d)) {
      val emb = Tables.embeddings(s, d)
      val n = emb.count()
      IvfQuantizer.fit(emb, "embedding",
        Similarity.autoNlist(n, nprobe = 2, minList = 8), knownCount = n)
    }(_ => ())

  /** A bucketed table written once per (session, `prefix`, sf dir) by
    * [[graft.core.Layout.writeBucketed]], named `prefix` + the dir's
    * [[Artifacts.dirName]]. Returns the table name; the value holds no
    * blocks, so eviction releases nothing.
    */
  private def storedTable(s: org.apache.spark.sql.SparkSession, d: String, prefix: String,
                          buckets: Int, key: String, moreKeys: String*)
                         (rows: => org.apache.spark.sql.DataFrame): String =
    Artifacts.memo(s, (prefix, d)) {
      val table = prefix + Artifacts.dirName(d)
      graft.core.Layout.writeBucketed(rows, table, buckets, key, moreKeys: _*)
      table
    }(_ => ())

  /** Stored IVF quantizer table — the CROSS-SESSION leg of the
    * build-once/join-many lifecycle (the [[ivfFor]]/[[ivfQuantizerForAuto]]
    * memos cover within-session reuse): pinned-auto anchors
    * ([[graft.ext.Similarity.ivfPinnedQuantizerRows]] at the
    * [[graft.ext.Similarity.autoNlist]] count) as an
    * `(ivf_cell, centroid, offset)` table that `x_ivf_knn_join_stored`
    * reloads and joins from.
    */
  private def ivfQuantTableFor(s: org.apache.spark.sql.SparkSession, d: String): String =
    storedTable(s, d, "graft_ivf_quant_auto_", buckets = 1, "ivf_cell") {
      val emb = Tables.embeddings(s, d)
      Similarity.ivfPinnedQuantizerRows(emb, "vec_id", "embedding",
        Similarity.autoNlist(emb.count(), nprobe = 2, minList = 8))
    }

  /** Stored PQ quantization-stats table, written alongside
    * [[ivfQuantTableFor]]'s quantizer: per-dim
    * (lo, hi) as a [[graft.functions.PqBounds]] table, so
    * `x_ivf_pq_knn_join_stored` reads BOTH halves of the stored artifact
    * — codes become a function of the artifact, not of whichever corpus
    * version the join sees.
    */
  private def ivfPqStatsTableFor(s: org.apache.spark.sql.SparkSession, d: String): String =
    storedTable(s, d, "graft_ivf_pq_stats_", buckets = 1, "dim")(
      PqBounds.stats(Tables.embeddings(s, d), "embedding").rows(s))

  /** Pinned anchors at the count-derived nlist (nprobe 2, minList 8): the
    * quantizer of every `_auto_pinned`-geometry IVF gate row.
    */
  private def pinnedAuto(df: org.apache.spark.sql.DataFrame): IvfQuantizer =
    IvfQuantizer.pinned(df, "vec_id", "embedding",
      Similarity.autoNlist(df.count(), nprobe = 2, minList = 8))

  /** Shared winnowing oracle prefix at the registry parameters
    * (k = 4, w = 5): restates `TextAnalysis.winnowFingerprints`'
    * portable arithmetic — char-code token polynomials, 4-gram hash
    * polynomials, per-window packed (pos, hash) minimum with the
    * rightmost-tie rule ((pos, hash) packed into one BIGINT because
    * DuckDB's list_distinct can't dedupe struct lists) — ending in
    * `u2` (doc_id, pos, h) and `u` (distinct doc_id, h). One
    * definition for the four x_winnow_* oracles, the bpeOracleCtes
    * rationale: hand-synced copies go stale one at a time.
    */
  private val WinnowOracleCtes: String =
    "WITH t AS (SELECT doc_id, string_split_regex(text, ' +') AS ws FROM documents), " +
    "f AS (SELECT doc_id, ws FROM t WHERE len(ws) >= 4), " +
    "th AS (SELECT doc_id, list_transform(ws, tk -> list_reduce(" +
    "list_prepend(CAST(0 AS BIGINT), list_transform(generate_series(1, length(tk)), " +
    "i -> CAST(ord(tk[i]) AS BIGINT))), (a, c) -> (a * 31 + c) % 2147483647)) AS hs FROM f), " +
    "gh AS (SELECT doc_id, list_transform(generate_series(1, len(hs) - 3), " +
    "p -> list_reduce(list_prepend(CAST(0 AS BIGINT), " +
    "list_transform(generate_series(0, 3), j -> hs[p + j])), " +
    "(a, h) -> (a * 131 + h) % 2147483647)) AS gs FROM th), " +
    "wn AS (SELECT doc_id, gs, least(5, len(gs)) AS wd FROM gh), " +
    "sel AS (SELECT doc_id, list_distinct(list_transform(" +
    "generate_series(1, len(gs) - wd + 1), q -> " +
    "(q - 1 + list_max(list_filter(generate_series(0, wd - 1), " +
    "j -> gs[q + j] = list_aggregate(gs[q:q + wd - 1], 'min')))) * 4294967296 " +
    "+ list_aggregate(gs[q:q + wd - 1], 'min'))) AS fps FROM wn), " +
    "u2 AS (SELECT doc_id, CAST(fp // 4294967296 AS BIGINT) AS pos, " +
    "CAST(fp % 4294967296 AS BIGINT) AS h FROM " +
    "(SELECT doc_id, unnest(fps) AS fp FROM sel)), " +
    "u AS (SELECT DISTINCT doc_id, h FROM u2)"

  /** The stop-gram pair gate shared by the winnow oracles (same
    * staleness rationale as [[WinnowOracleCtes]]): document frequency
    * cap (64) over `u`, gated per-doc hashes, pair counts, and the
    * minShared (2) qualifying-pair set. Appended directly after
    * [[WinnowOracleCtes]]; oracles that don't read `pq` just leave it
    * unused.
    */
  private val WinnowPairGateCtes: String =
    ", dfc AS (SELECT h FROM (SELECT h, count(*) AS df FROM u GROUP BY h) WHERE df <= 64), " +
    "g2 AS (SELECT u.doc_id, u.h FROM u JOIN dfc ON u.h = dfc.h), " +
    "pr AS (SELECT a.doc_id AS id1, b.doc_id AS id2, CAST(count(*) AS BIGINT) AS n_shared " +
    "FROM g2 a JOIN g2 b ON a.h = b.h AND a.doc_id < b.doc_id GROUP BY 1, 2), " +
    "pq AS (SELECT id1, id2 FROM pr WHERE n_shared >= 2)"

  /** DuckDB restatement of the splitmix64 hyperplane grid
    * ([[graft.ext.Similarity]]'s `hyperplane(p, i)`), ending in a CTE
    * `hp(p, i, h)` with h in [-1, 1). The mix chain is unsigned 64-bit
    * arithmetic; DuckDB has no u64, so values live in HUGEINT bounded to
    * [0, 2^64): xor/shift work directly on the non-negative
    * representative, and each multiply-mod-2^64 splits the variable
    * operand into 32-bit halves (a·2^32 + b)·c ≡ ((a·c mod 2^32)·2^32 +
    * b·c) so no intermediate exceeds 2^97. The final `Math.floorMod(z,
    * 2000)` is restated on the SIGNED value (z − 2^64 when the sign bit
    * is set). Constants are the unsigned decimal forms of the splitmix64
    * increments (0x9E3779B97F4A7C15, 0xBF58476D1CE4E5B9,
    * 0x94D049BB133111EB); shifts 30/27/31 appear as // 2^30 / 2^27 /
    * 2^31. This makes the WHOLE hyperplane-LSH ANN lane
    * driver-checkable: the oracle regenerates the planes from the same
    * public formula rather than trusting engine output.
    */
  private def splitmixHyperplaneCtes(nPlanes: Int): String =
    splitmixHyperplaneCtesFrom("", nPlanes.toString)

  /** [[splitmixHyperplaneCtes]] with the plane count as a SQL
    * expression (optionally referencing `preCtes`, prepended verbatim)
    * instead of a Scala literal — the auto-banded cosine row derives
    * its width from `count(*)`, so the plane range has to come from a
    * scalar subquery. `range(0, <scalar subquery>)` is fine in DuckDB
    * (it folds to a constant); only LATERAL column bounds are not
    * (the r12 generate_series finding).
    */
  private def splitmixHyperplaneCtesFrom(preCtes: String, planesExpr: String): String =
    // the component range follows the CORPUS dimensionality (max vector
    // length), not a hard-coded 64 — the Spark side derives dim from the
    // query vector the same way, so a non-64-dim corpus restates every
    // component instead of silently truncating the projection at the
    // em.i = hp.i join (r12 advice)
    "WITH " + (if (preCtes.isEmpty) "" else preCtes + ", ") +
    "dmx AS (SELECT max(len(embedding)) - 1 AS mi FROM embeddings), " +
    "di AS (SELECT unnest(range(0, mi + 1)) AS i FROM dmx), " +
    s"pl AS (SELECT p, i FROM (SELECT unnest(range(0, $planesExpr)) AS p) tp, di), " +
    "s0 AS (SELECT p, i, (CAST(p AS HUGEINT) * 11400714819323198485 + " +
    "CAST(i AS HUGEINT) * 13787848793156543929 + 10723151780598845931) " +
    "% 18446744073709551616 AS z FROM pl), " +
    "s1 AS (SELECT p, i, xor(z, z // 1073741824) AS z FROM s0), " +
    "s2 AS (SELECT p, i, ((z % 4294967296) * 13787848793156543929 + " +
    "((z // 4294967296) * 13787848793156543929 % 4294967296) * 4294967296) " +
    "% 18446744073709551616 AS z FROM s1), " +
    "s3 AS (SELECT p, i, xor(z, z // 134217728) AS z FROM s2), " +
    "s4 AS (SELECT p, i, ((z % 4294967296) * 10723151780598845931 + " +
    "((z // 4294967296) * 10723151780598845931 % 4294967296) * 4294967296) " +
    "% 18446744073709551616 AS z FROM s3), " +
    "s5 AS (SELECT p, i, xor(z, z // 2147483648) AS z FROM s4), " +
    "hp AS (SELECT p, i, (((CASE WHEN z >= 9223372036854775808 " +
    "THEN z - 18446744073709551616 ELSE z END) % 2000 + 2000) % 2000) " +
    "/ 1000.0 - 1.0 AS h FROM s5)"

  /** DuckDB restatement of the banded-hyperplane near-dup pipeline
    * (`x_cosine_near_dup_lsh` / `_stored` — identical results): the
    * 16×8-bit signature grid from the regenerated splitmix64 hyperplanes
    * ([[splitmixHyperplaneCtes]], 128 planes over dim 64), sign-bit
    * packing per band, the (band, sig) candidate self-join, then exact
    * cosine verification at minCos. Cross-engine risk is a projection
    * landing within summation-order ulps of 0.0 (sign flip) — the
    * documented x_ann_lsh exposure, O(1e-14) per projection since
    * projections are O(0.1+).
    */
  private val CosineNearDupLshOracle: String =
    splitmixHyperplaneCtes(128) + ", " + cosineLshPairCtes("p // 8", "p % 8")

  /** The signature-pack → candidate-join → exact-verify tail of the
    * cosine-LSH oracles, with the band/bit mapping as SQL expressions
    * over plane `p` so the fixed (16×8) and auto (count-derived width)
    * rows share one restatement.
    */
  private def cosineLshPairCtes(bandExpr: String, bitExpr: String): String =
      "em AS (SELECT vec_id, gi - 1 AS i, CAST(x AS DOUBLE) AS x FROM " +
      "(SELECT vec_id, unnest(embedding) AS x, generate_subscripts(embedding, 1) AS gi " +
      "FROM embeddings)), " +
      "pv AS (SELECT em.vec_id, hp.p, sum(em.x * hp.h) AS v FROM em " +
      "JOIN hp ON em.i = hp.i GROUP BY 1, 2), " +
      s"sg AS (SELECT vec_id, $bandExpr AS band, " +
      s"CAST(sum(CASE WHEN v >= 0 THEN CAST(1 AS BIGINT) << ($bitExpr) ELSE 0 END) AS BIGINT) AS sig " +
      "FROM pv GROUP BY 1, 2), " +
      "cp AS (SELECT DISTINCT a.vec_id AS id1, b.vec_id AS id2 FROM sg a " +
      "JOIN sg b ON a.band = b.band AND a.sig = b.sig AND a.vec_id < b.vec_id), " +
      "pe AS (SELECT cp.id1, cp.id2, unnest(e1.embedding) AS x1, unnest(e2.embedding) AS x2 " +
      "FROM cp JOIN embeddings e1 ON e1.vec_id = cp.id1 " +
      "JOIN embeddings e2 ON e2.vec_id = cp.id2), " +
      "cs AS (SELECT id1, id2, sum(CAST(x1 AS DOUBLE) * CAST(x2 AS DOUBLE)) AS dt, " +
      "sum(CAST(x1 AS DOUBLE) * CAST(x1 AS DOUBLE)) AS n1, " +
      "sum(CAST(x2 AS DOUBLE) * CAST(x2 AS DOUBLE)) AS n2 FROM pe GROUP BY 1, 2) " +
      "SELECT id1, id2, round(dt / (sqrt(n1) * sqrt(n2)), 6) AS cos FROM cs " +
      "WHERE dt / (sqrt(n1) * sqrt(n2)) > 0.4 ORDER BY id1, id2"

  /** The pinned-anchor IVF membership restatement shared by every IVF
    * oracle: anchors are the `nlistExpr` smallest-id nonzero vectors of
    * `src`, L2-normalized (`cn`..`ccn`); each row's anchor dots (`dt`)
    * rank (dot desc, cell asc) in `pr`, and rank 1 is membership
    * (`mem`). Row vectors divide by ‖v‖ AFTER the sum (`sum(x·c)/‖v‖`,
    * the [[graft.functions.IvfKernel]] dot-then-scale order: a
    * per-element `x/‖v‖·c` sum rounds differently and can flip a
    * near-tie probe cell). Zero-norm vectors are excluded on BOTH sides,
    * as anchors and as rows, mirroring the engine's guard (unguarded, a
    * zero norm is NaN in Spark and a division error here). `preCtes`,
    * prepended verbatim, may define `src` and `nl`.
    */
  private def ivfMembershipCtes(nlistExpr: String, preCtes: String,
                                src: String = "embeddings"): String =
    (if (preCtes.isEmpty) "" else preCtes + ", ") +
      "cn AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS ci, embedding " +
      s"FROM (SELECT vec_id, embedding FROM $src " +
      "WHERE embedding IS NOT NULL AND " +
      "list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) > 0 " +
      s"ORDER BY vec_id LIMIT $nlistExpr)), " +
      "cc AS (SELECT ci, generate_subscripts(embedding, 1) - 1 AS j, " +
      "CAST(unnest(embedding) AS DOUBLE) AS x FROM cn), " +
      "cno AS (SELECT ci, sqrt(sum(x * x)) AS nrm FROM cc GROUP BY ci), " +
      "ccn AS (SELECT cc.ci, cc.j, cc.x / cno.nrm AS x " +
      "FROM cc JOIN cno ON cc.ci = cno.ci), " +
      "ve AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS j, " +
      s"CAST(unnest(embedding) AS DOUBLE) AS x FROM $src " +
      "WHERE embedding IS NOT NULL), " +
      "vno AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM ve GROUP BY vec_id), " +
      "dt AS (SELECT ve.vec_id, ccn.ci, " +
      "sum(ve.x * ccn.x) / any_value(vno.nrm) AS dot " +
      "FROM ve JOIN vno ON ve.vec_id = vno.vec_id " +
      "JOIN ccn ON ve.j = ccn.j WHERE vno.nrm > 0 GROUP BY 1, 2), " +
      "pr AS (SELECT vec_id, ci, row_number() OVER " +
      "(PARTITION BY vec_id ORDER BY dot DESC, ci) AS rk FROM dt), " +
      "mem AS (SELECT vec_id, ci FROM pr WHERE rk = 1)"

  /** [[ivfMembershipCtes]] plus the nprobe-2 probe list (`prob`) and the
    * probe-cell members of every row, self excluded (`cand(qid, nid)`).
    */
  private def ivfCandidateCtes(nlistExpr: String, preCtes: String, src: String): String =
    ivfMembershipCtes(nlistExpr, preCtes, src) + ", " +
      "prob AS (SELECT vec_id, ci FROM pr WHERE rk <= 2), " +
      "cand AS (SELECT p.vec_id AS qid, m.vec_id AS nid FROM prob p " +
      "JOIN mem m ON p.ci = m.ci AND p.vec_id <> m.vec_id)"

  /** The exact tail of the plain IVF join: every candidate's cosine from
    * the `src` vectors, ranked per query (cos desc, nid), ending at
    * `rnk(qid, nid, cos, rank)`. Appended after [[ivfCandidateCtes]].
    */
  private def ivfExactRankCtes(src: String): String =
    ", pe AS (SELECT cand.qid, cand.nid, unnest(e1.embedding) AS x1, " +
      "unnest(e2.embedding) AS x2 FROM cand " +
      s"JOIN $src e1 ON e1.vec_id = cand.qid " +
      s"JOIN $src e2 ON e2.vec_id = cand.nid), " +
      "cs AS (SELECT qid, nid, " +
      "sum(CAST(x1 AS DOUBLE) * CAST(x2 AS DOUBLE)) AS dt2, " +
      "sum(CAST(x1 AS DOUBLE) * CAST(x1 AS DOUBLE)) AS n1, " +
      "sum(CAST(x2 AS DOUBLE) * CAST(x2 AS DOUBLE)) AS n2 FROM pe GROUP BY 1, 2), " +
      "rnk AS (SELECT qid, nid, dt2 / (sqrt(n1) * sqrt(n2)) AS cos, " +
      "row_number() OVER (PARTITION BY qid " +
      "ORDER BY dt2 / (sqrt(n1) * sqrt(n2)) DESC, nid) AS rank FROM cs)"

  /** The global min/max stats CTE body (the
    * [[graft.functions.PqBounds.stats]] clip = 0 default) — NaN-filtered
    * like the engine.
    */
  private val PqMinMaxStatsSql: String =
    "SELECT j, min(x) AS lo, max(x) AS hi FROM ve WHERE NOT isnan(x) GROUP BY j"

  /** RANK-clipped stats CTE body — drop exactly `c` elements per side
    * per dimension, min/max of the remainder
    * ([[graft.functions.PqBounds.rankClipped]]): tie order at the
    * drop boundary can't change the remainder's min/max VALUE, so plain
    * `row_number` restates it deterministically.
    */
  private def pqRankClipStatsSql(c: Int): String =
    "SELECT j, min(x) AS lo, max(x) AS hi FROM (" +
      "SELECT j, x, row_number() OVER (PARTITION BY j ORDER BY x) AS ra, " +
      "row_number() OVER (PARTITION BY j ORDER BY x DESC) AS rd " +
      s"FROM ve WHERE NOT isnan(x)) WHERE ra > $c AND rd > $c GROUP BY j"

  /** The PQ tail of the IVF join, appended after [[ivfCandidateCtes]] —
    * quantization stats (`statsSql`, see the two bodies above), affine
    * uint8 RECONSTRUCTIONS `lo + clamp(floor((x−lo)/(hi−lo)·255 + .5))/255.0
    * ·(hi−lo)` (literally that float order, the
    * [[graft.functions.QuantCosine]] kernel contract),
    * reconstruction-cosine survivor ranks bounded to `kPrimeExpr` (NaN
    * filtered like the engine), and the exact cosine top-k re-rank
    * over survivors only. `tag` suffixes every CTE name so one query
    * can run TWO chains (e.g. min/max vs rank-clipped in the outlier
    * audit) off the shared membership/candidate CTEs; ends at
    * `rnk2$tag` (qid, nid, cos, rank).
    */
  private def ivfPqChainCtes(kPrimeExpr: String, tag: String,
                             statsSql: String): String =
    s", st$tag AS ($statsSql), " +
      s"rc$tag AS (SELECT ve.vec_id, ve.j, st$tag.lo + (CASE WHEN st$tag.hi = st$tag.lo THEN 0.0 " +
      s"ELSE least(greatest(floor((ve.x - st$tag.lo) / (st$tag.hi - st$tag.lo) * 255.0 + 0.5), " +
      s"0.0), 255.0) END) / 255.0 * (st$tag.hi - st$tag.lo) AS r " +
      s"FROM ve JOIN st$tag ON ve.j = st$tag.j), " +
      // The three accumulations run in EXPLICIT dimension order
      // (list(... ORDER BY j) -> sequential list_aggregate), matching
      // the QuantCosine kernel's index-order loop BITWISE. A plain
      // sum() leaves the accumulation order to the hash aggregate —
      // fine when candidate scores are well separated, but the outlier
      // audit's fully-crushed regime ties every score at 1.0 +/- ulp,
      // and per-group order wobble flipped survivor ranks at the
      // kPrime boundary (measured: 1-2 recovered-flag diffs per run).
      s"qcd$tag AS (SELECT cand.qid, cand.nid, " +
      "list_aggregate(list(r1.r * r2.r ORDER BY r1.j), 'sum') AS dtq, " +
      "list_aggregate(list(r1.r * r1.r ORDER BY r1.j), 'sum') AS nq1, " +
      "list_aggregate(list(r2.r * r2.r ORDER BY r1.j), 'sum') AS nq2 FROM cand " +
      s"JOIN rc$tag r1 ON r1.vec_id = cand.qid " +
      s"JOIN rc$tag r2 ON r2.vec_id = cand.nid AND r1.j = r2.j GROUP BY 1, 2), " +
      s"sv$tag AS (SELECT qid, nid, row_number() OVER (PARTITION BY qid " +
      s"ORDER BY dtq / (sqrt(nq1) * sqrt(nq2)) DESC, nid) AS qrk FROM qcd$tag " +
      "WHERE NOT isnan(dtq / (sqrt(nq1) * sqrt(nq2)))), " +
      s"cs2$tag AS (SELECT sv$tag.qid, sv$tag.nid, sum(v1.x * v2.x) AS dt2, " +
      s"sum(v1.x * v1.x) AS n1, sum(v2.x * v2.x) AS n2 FROM sv$tag " +
      s"JOIN ve v1 ON v1.vec_id = sv$tag.qid " +
      s"JOIN ve v2 ON v2.vec_id = sv$tag.nid AND v1.j = v2.j " +
      s"WHERE sv$tag.qrk <= $kPrimeExpr GROUP BY 1, 2), " +
      s"rnk2$tag AS (SELECT qid, nid, dt2 / (sqrt(n1) * sqrt(n2)) AS cos, " +
      "row_number() OVER (PARTITION BY qid " +
      s"ORDER BY dt2 / (sqrt(n1) * sqrt(n2)) DESC, nid) AS rank FROM cs2$tag)"

  /** `nl(nlist)`: the engine's IVF balance rule over `count(*)` of `src`,
    * the smallest nlist ≥ 8 with nlist² ≥ n·nprobe (nprobe = 2), in the
    * same exact integer arithmetic as [[graft.ext.Similarity.autoNlist]]:
    * a floating `ceil(sqrt(…))` could land on either side of a perfect
    * square across engines.
    */
  private def autoNlistCtes(src: String): String =
    s"nn AS (SELECT count(*) * 2 AS target FROM $src), " +
      "nl AS (SELECT min(m) AS nlist FROM generate_series(8, 100000) t(m), nn " +
      "WHERE CAST(m AS HUGEINT) * m >= nn.target)"

  /** Id bounds of the fixed corpus slices: a capped stand-in runs on
    * `vec_id < CapBound`, a recall audit on `vec_id < AuditBound`. Both
    * bound the row's cost at any sf; the 500-vector gate sfs fit inside.
    */
  private val CapBound = 2000
  private val AuditBound = 500

  /** `sl(vec_id, embedding)`: the slice `vec_id < bound`. */
  private def sliceCte(bound: Int): String =
    s"sl AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < $bound)"

  /** The embeddings a family row joins: all of them, or the capped slice. */
  private def corpus(s: org.apache.spark.sql.SparkSession, d: String, capped: Boolean) =
    if (capped) Tables.embeddings(s, d).filter(col("vec_id") < CapBound)
    else Tables.embeddings(s, d)

  /** The oracle of an IVF gate row (nprobe 2, k 3): anchors at `nlist`,
    * or at the count-derived [[autoNlistCtes]] nlist when `None`; the
    * exact or, with `pq`, the kPrime-8 PQ tail; over `sl` when `capped`.
    */
  private def ivfJoinOracle(nlist: Option[Int], pq: Boolean, capped: Boolean): String = {
    val src = if (capped) "sl" else "embeddings"
    val pre = (if (capped) Seq(sliceCte(CapBound)) else Nil) ++
      nlist.fold(Seq(autoNlistCtes(src)))(_ => Nil)
    val tail = if (pq) ivfPqChainCtes("8", "", PqMinMaxStatsSql) else ivfExactRankCtes(src)
    "WITH " + ivfCandidateCtes(nlist.fold("(SELECT nlist FROM nl)")(_.toString),
        pre.mkString(", "), src) + tail +
      " SELECT qid AS vec_id, nid AS neighbor_id, round(cos, 6) AS cos, rank " +
      s"FROM ${if (pq) "rnk2" else "rnk"} WHERE rank <= 3 ORDER BY vec_id, rank"
  }

  /** The oracle of a recall audit: `ctes` (an IVF chain over the slice
    * `sl`, from [[ivfCandidateCtes]]) plus every query's exact top-1
    * neighbour over the chain's `ve`/`vno` (`t1`), LEFT JOINed against
    * the top-3 of each ranked relation in `hits` (flag column →
    * relation). Both sides are restated, so a drift in either the exact
    * baseline or the ANN chain flips a flag.
    */
  private def recallOracle(ctes: String, hits: Seq[(String, String)]): String = {
    val hs = hits.zipWithIndex.map { case ((flag, rel), i) => (flag, rel, s"h$i") }
    "WITH " + ctes + ", " +
      "exd AS (SELECT a.vec_id AS qid, b.vec_id AS nid, sum(a.x * b.x) AS dt3 " +
      "FROM ve a JOIN ve b ON a.j = b.j AND a.vec_id <> b.vec_id GROUP BY 1, 2), " +
      "exc AS (SELECT exd.qid, exd.nid, exd.dt3 / (va.nrm * vb.nrm) AS cos " +
      "FROM exd JOIN vno va ON va.vec_id = exd.qid " +
      "JOIN vno vb ON vb.vec_id = exd.nid WHERE va.nrm > 0 AND vb.nrm > 0), " +
      "ext AS (SELECT qid, nid, cos, row_number() OVER " +
      "(PARTITION BY qid ORDER BY cos DESC, nid) AS rk FROM exc), " +
      "t1 AS (SELECT qid, nid, cos FROM ext WHERE rk = 1), " +
      hs.map { case (_, rel, h) => s"$h AS (SELECT qid, nid FROM $rel WHERE rank <= 3)" }
        .mkString(", ") +
      " SELECT t1.qid AS vec_id, t1.nid AS top1_id, round(t1.cos, 6) AS cos, " +
      hs.map { case (flag, _, h) => s"($h.nid IS NOT NULL) AS $flag" }.mkString(", ") +
      " FROM t1 " +
      hs.map { case (_, _, h) => s"LEFT JOIN $h ON t1.qid = $h.qid AND t1.nid = $h.nid " }
        .mkString + "ORDER BY vec_id"
  }

  /** Candidates of a recall audit: the pinned-auto IVF chain over the
    * audit slice `sl`, which the CTE `slice` defines.
    */
  private def auditCandidateCtes(slice: String): String =
    ivfCandidateCtes("(SELECT nlist FROM nl)", slice + ", " + autoNlistCtes("sl"), "sl")

  /** Oracle for `xs_stream_ivf_pairs`: same-membership-cell pairs under
    * the count-derived pinned-auto anchors — the batch restatement of
    * the ingest twin's candidate set (the drained stream's DISTINCT is
    * exactly this join; nprobe = 1 slices the pinned IVF join algebra
    * down to `mem` ⋈ `mem`).
    */
  val IvfStreamMembershipOracle: String =
    "WITH " + ivfMembershipCtes("(SELECT nlist FROM nl)", autoNlistCtes("embeddings")) +
      " SELECT a.vec_id AS id1, b.vec_id AS id2 FROM mem a " +
      "JOIN mem b ON a.ci = b.ci AND a.vec_id < b.vec_id ORDER BY id1, id2"

  /** Where an IVF join row's quantizer comes from. KMeans seeds its
    * centroids inside the engine, so those rows are rows-only; pinned
    * anchors (the nlist smallest-id vectors, L2-normalized, no RNG) are
    * restated by [[ivfJoinOracle]].
    */
  private sealed trait IvfSource
  /** The session-memoized KMeans index ([[ivfFor]], nlist 8). */
  private case object KMeansMemo extends IvfSource
  /** KMeans at the count-derived nlist, session-memoized ([[ivfQuantizerForAuto]]). */
  private case object KMeansAuto extends IvfSource
  /** KMeans at nlist 8, fit on the corpus the row joins. */
  private case object KMeansFit extends IvfSource
  /** Pinned anchors at `nlist`, or at the count-derived nlist when `None`. */
  private final case class Pinned(nlist: Option[Int]) extends IvfSource
  /** The count-derived pinned anchors written once per (session, sf) and
    * reloaded ([[ivfQuantTableFor]]); a PQ row also reloads the stored
    * quantization stats.
    */
  private case object Stored extends IvfSource

  /** One IVF join row (nprobe 2, k 3), built by [[ivfQ]]; `pq` adds the
    * kPrime-8 PQ stage, `capped` runs it on the `vec_id < 2000` slice.
    */
  private final case class IvfRow(name: String, source: IvfSource, pq: Boolean = false,
                                  capped: Boolean = false)

  private def ivfQ(r: IvfRow): Q = Q(r.name, (s, d) => {
    val emb = corpus(s, d, r.capped)
    val quantizer = r.source match {
      case KMeansMemo => IvfQuantizer.fromModel(ivfFor(s, d)._2)
      case KMeansAuto => ivfQuantizerForAuto(s, d)
      case KMeansFit => IvfQuantizer.fit(emb, "embedding", nlist = 8)
      case Pinned(Some(n)) => IvfQuantizer.pinned(emb, "vec_id", "embedding", nlist = n)
      case Pinned(None) => pinnedAuto(emb)
      case Stored => IvfQuantizer.stored(s.table(ivfQuantTableFor(s, d)))
    }
    val pq = Option.when(r.pq)(IvfPq(
      if (r.source == Stored) PqBounds.stored(s.table(ivfPqStatsTableFor(s, d)))
      else PqBounds.stats(emb, "embedding"), kPrime = 8))
    knnRows(Similarity.ivfKnnJoin(emb, "vec_id", "embedding", quantizer, nprobe = 2, k = 3, pq))
  }, r.source match {
    case Pinned(nlist) => Some(ivfJoinOracle(nlist, r.pq, r.capped))
    case Stored => Some(ivfJoinOracle(None, r.pq, r.capped))
    case _ => None
  })

  /** The recall-audit rows: every `slice` row's exact top-1 neighbour
    * (vec_id, top1_id, cos), with one flag per `hits` entry (flag column,
    * ANN join) saying whether that join's top-k holds it.
    */
  private def recallFlags(slice: org.apache.spark.sql.DataFrame,
                          hits: (String, org.apache.spark.sql.DataFrame)*) = {
    val truth = Similarity.exactKnnJoin(slice, "vec_id", "embedding", k = 1)
      .select(col("vec_id"), col("neighbor_id").as("top1_id"), round(col("cos"), 6).as("cos"))
    hits.foldLeft(truth) { case (t, (flag, hit)) =>
        t.join(hit.select(col("vec_id"), col("neighbor_id").as("top1_id"), lit(true).as(s"_$flag")),
          Seq("vec_id", "top1_id"), "left")
      }
      .select(Seq(col("vec_id"), col("top1_id"), col("cos")) ++ hits.map { case (flag, _) =>
        coalesce(col(s"_$flag"), lit(false)).as(flag) }: _*)
      .orderBy("vec_id")
  }

  /** Oracle for `x_cosine_near_dup_lsh_auto`: same pipeline, with the
    * band width derived from `count(*)` by the shared occupancy rule
    * (min bits ≥ 8 with 2^bits ≥ ceil(n / 64)) and 16 × bits planes
    * regenerated from the splitmix formula.
    */
  private val CosineNearDupLshAutoOracle: String =
    splitmixHyperplaneCtesFrom(
      "nn AS (SELECT (count(*) + 63) // 64 AS needed FROM embeddings), " +
        "bt AS (SELECT min(p) AS bits FROM generate_series(8, 62) t(p), nn " +
        "WHERE (CAST(1 AS BIGINT) << p) >= nn.needed)",
      "(SELECT 16 * bits FROM bt)") + ", " +
      cosineLshPairCtes("p // (SELECT bits FROM bt)", "p % (SELECT bits FROM bt)")

  /** Six-CTE splitmix64 finalizer chain on HUGEINT column `z` of CTE
    * `from`, carrying `keep` columns; emits CTEs `<p>a..<p>f` (result in
    * `<p>f.z`, still the unsigned [0, 2^64) representative). Shared by
    * the splitmix oracle twins.
    */
  private def mixCtes(p: String, from: String, keep: String): String = {
    val mod = "18446744073709551616"
    def mul(m: String) =
      s"((z % 4294967296) * $m + ((z // 4294967296) * $m % 4294967296) * 4294967296) % $mod"
    s"${p}a AS (SELECT $keep, (z + 11400714819323198485) % $mod AS z FROM $from), " +
      s"${p}b AS (SELECT $keep, xor(z, z // 1073741824) AS z FROM ${p}a), " +
      s"${p}c AS (SELECT $keep, ${mul("13787848793156543929")} AS z FROM ${p}b), " +
      s"${p}d AS (SELECT $keep, xor(z, z // 134217728) AS z FROM ${p}c), " +
      s"${p}e AS (SELECT $keep, ${mul("10723151780598845931")} AS z FROM ${p}d), " +
      s"${p}f AS (SELECT $keep, xor(z, z // 2147483648) AS z FROM ${p}e)"
  }

  /** The restatable 52-bit token key of [[graft.ext.Dedup.restatableTokenKey]]
    * over a SQL string expression `t`.
    */
  private def tokenKeySql(t: String): String = {
    // `% 256` mirrors the Spark side's 8-bit lane mask (non-ASCII
    // safety); the OUTER parens are load-bearing — `*` and `%` share
    // precedence left-assoc, so un-wrapped `256 * x % 256` would zero
    // the lane
    def c(i: Int) = s"((CASE WHEN length($t) >= $i THEN ord(substr($t, $i, 1)) ELSE 0 END) % 256)"
    s"${c(1)} + 256 * ${c(2)} + 65536 * ${c(3)} + 16777216 * ${c(4)} + 4294967296 * length($t)"
  }

  /** DuckDB restatement of `x_minhash_lsh_splitmix`
    * ([[graft.ext.Dedup.minhashCandidatesSplitmix]]): token mix → the
    * order-sensitive shingle fold (three chained mixes for n=3) → lane
    * constants `mix(j)` from generate_series → lane hashes
    * `mix(s ⊕ mix(j))` → SIGNED per-lane minima (two's-complement
    * conversion before `min`, matching Spark's Long ordering) → bands of
    * `rowsPerBand` raw minima → band-equality pair join. Six mix chains
    * total, all via [[mixCtes]].
    */
  /** Shared base of the minhash-splitmix oracles: everything up to the
    * per-(doc, band) lane minima CTE `bd(doc_id, band, s0, s1)`.
    */
  private val MinhashSplitmixBase: String = {
    val mod = "18446744073709551616"
    "WITH d AS (SELECT doc_id, string_split_regex(text, ' +') AS toks FROM documents), " +
      // token rows with position (docs with < 3 tokens have no shingles)
      "tp AS (SELECT doc_id, unnest(generate_series(1, len(toks))) AS tpos, toks FROM d " +
      "WHERE len(toks) >= 3), " +
      s"tk AS (SELECT doc_id, tpos, CAST(${tokenKeySql("toks[tpos]")} AS HUGEINT) AS z FROM tp), " +
      mixCtes("tm", "tk", "doc_id, tpos") + ", " +
      // shingle fold c1 = mix(m3); c2 = mix(m2 ⊕ c1); s = mix(m1 ⊕ c2)
      "sh AS (SELECT a.doc_id, a.tpos AS p, a.z AS m1, b.z AS m2, c.z AS m3 " +
      "FROM tmf a JOIN tmf b ON a.doc_id = b.doc_id AND b.tpos = a.tpos + 1 " +
      "JOIN tmf c ON a.doc_id = c.doc_id AND c.tpos = a.tpos + 2), " +
      "c1i AS (SELECT doc_id, p, m1, m2, m3 AS z FROM sh), " +
      mixCtes("c1", "c1i", "doc_id, p, m1, m2") + ", " +
      "c2i AS (SELECT doc_id, p, m1, xor(m2, z) AS z FROM c1f), " +
      mixCtes("c2", "c2i", "doc_id, p, m1") + ", " +
      "c3i AS (SELECT doc_id, p, xor(m1, z) AS z FROM c2f), " +
      mixCtes("c3", "c3i", "doc_id, p") + ", " +
      // lane constants mix(j), j = 0..15
      "lni AS (SELECT j, CAST(j AS HUGEINT) AS z FROM generate_series(0, 15) g(j)), " +
      mixCtes("ln", "lni", "j") + ", " +
      // lane hashes mix(s ⊕ mix(j)) over shingle × lane
      "lhi AS (SELECT s.doc_id, s.p, l.j, xor(s.z, l.z) AS z FROM c3f s, lnf l), " +
      mixCtes("lh", "lhi", "doc_id, p, j") + ", " +
      // signed minima per (doc, lane)
      "hs AS (SELECT doc_id, j, CAST(CASE WHEN z >= 9223372036854775808 " +
      s"THEN z - $mod ELSE z END AS BIGINT) AS h FROM lhf), " +
      "sig AS (SELECT doc_id, j, min(h) AS hmin FROM hs GROUP BY doc_id, j), " +
      // bands of rowsPerBand = 2 raw minima
      "bd AS (SELECT doc_id, j // 2 AS band, " +
      "max(CASE WHEN j % 2 = 0 THEN hmin END) AS s0, " +
      "max(CASE WHEN j % 2 = 1 THEN hmin END) AS s1 FROM sig GROUP BY doc_id, j // 2)"
  }

  private val MinhashSplitmixOracle: String =
    MinhashSplitmixBase + " " +
      "SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2 FROM bd a JOIN bd b " +
      "ON a.band = b.band AND a.s0 = b.s0 AND a.s1 = b.s1 AND a.doc_id < b.doc_id " +
      "ORDER BY id1, id2"

  /** Oracle for the STREAMING parity row `xs_stream_minhash_pairs`: same
    * base, but the band key is the single-long combiner the streaming
    * state op shuffles on — `mix(u(s0) ⊕ mix(u(s1)))` with `u` the
    * unsigned representative (two more [[mixCtes]] chains). A finite
    * drained ingest with a beyond-horizon watermark and an uncapped
    * bucket emits exactly the batch candidate set (pairs may repeat per
    * band/batch; both sides DISTINCT).
    */
  private[queries] val MinhashStreamSplitmixOracle: String = {
    val mod = "18446744073709551616"
    MinhashSplitmixBase + ", " +
      s"k1i AS (SELECT doc_id, band, s0, CAST(CASE WHEN s1 < 0 THEN s1 + $mod ELSE s1 END AS HUGEINT) AS z FROM bd), " +
      mixCtes("k1", "k1i", "doc_id, band, s0") + ", " +
      s"k2i AS (SELECT doc_id, band, xor(CAST(CASE WHEN s0 < 0 THEN s0 + $mod ELSE s0 END AS HUGEINT), z) AS z FROM k1f), " +
      mixCtes("k2", "k2i", "doc_id, band") + ", " +
      "bk AS (SELECT doc_id, band, CAST(CASE WHEN z >= 9223372036854775808 " +
      s"THEN z - $mod ELSE z END AS BIGINT) AS bucket FROM k2f) " +
      "SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2 FROM bk a JOIN bk b " +
      "ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id " +
      "ORDER BY id1, id2"
  }

  /** DuckDB restatement of the `x_simhash_splitmix` twin: per-token
    * 52-bit key (first four `ord` codes + length — integer math, no
    * wraparound) → the canonical splitmix64 finalizer in HUGEINT
    * mod-2^64 arithmetic (same multiply-split technique as
    * [[splitmixHyperplaneCtes]]; constants are the unsigned decimals of
    * 0x9E3779B97F4A7C15 / 0xBF58476D1CE4E5B9 / 0x94D049BB133111EB,
    * shifts 30/27/31 as // 2^k) → 64 per-bit ±1 vote sums per doc →
    * sign-bit signature → 4×16-bit bands → band-equality pair join →
    * `64 − bit_count(xor(sig, sig))` on the SIGNED representatives
    * (two's-complement conversion via − 2^64 above the sign bit, exactly
    * Java `Long.bitCount` semantics).
    */
  private val SimhashSplitmixOracle: String = {
    val mod = "18446744073709551616"
    def pow2(i: Int) = java.math.BigInteger.valueOf(2).pow(i).toString
    val votes = (0 until 64).map(i =>
      s"sum(CASE WHEN (z // ${pow2(i)}) % 2 = 1 THEN 1 ELSE -1 END) AS b$i").mkString(", ")
    val sigSum = (0 until 64).map(i =>
      s"CASE WHEN b$i > 0 THEN CAST(${pow2(i)} AS HUGEINT) ELSE CAST(0 AS HUGEINT) END")
      .mkString(" + ")
    val bandVal = "(sigu // (CASE band WHEN 0 THEN 1 WHEN 1 THEN 65536 " +
      "WHEN 2 THEN 4294967296 ELSE 281474976710656 END)) % 65536"
    "WITH tok AS (SELECT doc_id, unnest(string_split_regex(text, ' +')) AS t FROM documents), " +
      s"tk AS (SELECT doc_id, CAST(${tokenKeySql("t")} AS HUGEINT) AS z FROM tok), " +
      mixCtes("sm", "tk", "doc_id") + ", " +
      s"v AS (SELECT doc_id, $votes FROM smf GROUP BY doc_id), " +
      s"sg AS (SELECT doc_id, $sigSum AS sigu FROM v), " +
      "ss AS (SELECT doc_id, sigu, CAST(CASE WHEN sigu >= 9223372036854775808 " +
      s"THEN sigu - $mod ELSE sigu END AS BIGINT) AS ssig FROM sg), " +
      "bd AS (SELECT doc_id, sigu, ssig, band, " + bandVal + " AS band_val " +
      "FROM ss, generate_series(0, 3) g(band)) " +
      "SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2, " +
      "CAST(64 - bit_count(xor(a.ssig, b.ssig)) AS INTEGER) AS matching_bits " +
      "FROM bd a JOIN bd b ON a.band = b.band AND a.band_val = b.band_val " +
      "AND a.doc_id < b.doc_id ORDER BY id1, id2"
  }

  /** Brute-force cosine top-20 against the vec_id=0 embedding — shared
    * by `x_ann_bruteforce` (the exact baseline) and
    * `x_ann_ivf_full_probe` (the IVF probe machinery degenerated to
    * nprobe = nlist, which must reproduce it exactly).
    */
  private val BruteForceTopKSql: String =
    "WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0), " +
    "d AS (SELECT e.vec_id, unnest(e.embedding) AS a, unnest(q.qe) AS b FROM embeddings e, q " +
    "WHERE e.vec_id > 0), " +
    "sm AS (SELECT vec_id, sum(CAST(a AS DOUBLE) * CAST(b AS DOUBLE)) AS dt, " +
    "sum(CAST(a AS DOUBLE) * CAST(a AS DOUBLE)) AS na, " +
    "sum(CAST(b AS DOUBLE) * CAST(b AS DOUBLE)) AS nb FROM d GROUP BY vec_id) " +
    "SELECT vec_id, round(dt / (sqrt(na) * sqrt(nb)), 6) AS cos FROM sm " +
    "ORDER BY dt / (sqrt(na) * sqrt(nb)) DESC, vec_id LIMIT 20"

  /** Exact 3-gram Jaccard over every document pair sharing at least one
    * gram, via the scalable gram-keyed equi-join (never an all-pairs
    * product: a pair with jaccard > 0 shares a gram by definition, so
    * the join loses nothing). Ends in CTE `j(id1, id2, jac)`. Shared by
    * the `x_jaccard_verify` / `x_jaccard_fallback` oracles and the
    * `x_minhash_recall` companion, the WinnowOracleCtes staleness
    * rationale.
    */
  private val JaccardTruthCtes: String =
    "WITH t AS (SELECT doc_id, string_split_regex(text, ' +') AS toks FROM documents), " +
    "e AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 2)) AS p FROM t " +
    "WHERE len(toks) >= 3), " +
    "g AS (SELECT DISTINCT doc_id, array_to_string(toks[p:p+2], ' ') AS gr FROM e), " +
    "c AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id), " +
    "pr AS (SELECT a.doc_id AS id1, b.doc_id AS id2, CAST(count(*) AS BIGINT) AS sh " +
    "FROM g a JOIN g b ON a.gr = b.gr AND a.doc_id < b.doc_id GROUP BY 1, 2), " +
    "j AS (SELECT id1, id2, CAST(sh AS DOUBLE) / (c1.n + c2.n - sh) AS jac " +
    "FROM pr JOIN c c1 ON c1.doc_id = pr.id1 JOIN c c2 ON c2.doc_id = pr.id2)"

  /** DuckDB restatement of the deterministic BPE-12 learner, shared by
    * the `x_bpe_merges` and `x_bpe_subwords` oracles. The corpus
    * vocabulary is tiny (31 word types at every sf), so the ENTIRE
    * learner state — every word's symbol array plus its frequency —
    * rides in ONE list-of-structs value per recursive-CTE row; each
    * iteration restates one sequential merge: adjacent-pair counts via
    * list lambdas (pair key = l||chr(30)||r, which sorts identically to
    * (l, r) because chr(30) is below every token byte), winner = first
    * element of the (−count, key) sort — count desc, then l asc, r asc,
    * the learner's exact tie-break — and the same greedy left-to-right
    * fold as `applyMergeFold` via `list_reduce`. Stops at `numMerges`
    * merges or when no pair remains, like the learner. This is
    * oracle-side restatement only — the Spark learner stays fully
    * distributed; the oracle exploits the small vocabulary the way
    * every oracle exploits small sf.
    */
  private def bpeOracleCtes(numMerges: Int): String =
    "WITH RECURSIVE " +
    "tok AS (SELECT t FROM (SELECT unnest(string_split_regex(text, ' +')) AS t " +
    "FROM documents) WHERE length(t) > 0), " +
    "words AS (SELECT t AS w, CAST(count(*) AS BIGINT) AS f FROM tok GROUP BY t), " +
    "init AS (SELECT list(struct_pack(syms := list_transform(generate_series(1, length(w)), " +
    "i -> w[i]), f := f)) AS st FROM words), " +
    "it AS (" +
    "SELECT 0 AS merge_rank, CAST(NULL AS VARCHAR) AS l, CAST(NULL AS VARCHAR) AS r, " +
    "CAST(NULL AS BIGINT) AS c, (SELECT st FROM init) AS st " +
    "UNION ALL " +
    "SELECT merge_rank + 1, bl, br, bc, " +
    "list_transform(st, w -> struct_pack(" +
    "syms := list_reduce(list_transform(w.syms, s -> [s]), (acc, x) -> " +
    "CASE WHEN acc[-1] = bl AND x[1] = br " +
    "THEN list_append(acc[1:len(acc)-1], bl || br) " +
    "ELSE list_append(acc, x[1]) END), " +
    "f := w.f)) " +
    "FROM (" +
    "SELECT merge_rank, st, " +
    "string_split(best0.k, chr(30))[1] AS bl, " +
    "string_split(best0.k, chr(30))[2] AS br, " +
    "-best0.nc AS bc " +
    "FROM (" +
    "SELECT merge_rank, st, " +
    "list_sort(list_transform(" +
    "list_distinct(list_transform(prs, p -> p.l || chr(30) || p.r)), " +
    "d -> struct_pack(" +
    "nc := -CAST(list_aggregate(list_transform(prs, " +
    "p -> CASE WHEN p.l || chr(30) || p.r = d THEN p.f ELSE 0 END), 'sum') AS BIGINT), " +
    "k := d)))[1] AS best0 " +
    "FROM (" +
    "SELECT merge_rank, st, " +
    "flatten(list_transform(st, w -> list_transform(" +
    "generate_series(1, len(w.syms) - 1), " +
    "i -> struct_pack(l := w.syms[i], r := w.syms[i + 1], f := w.f)))) AS prs " +
    "FROM it WHERE merge_rank < " + numMerges +
    ")) WHERE best0 IS NOT NULL))"

  /** 100-merge BPE table memo: the learned artifact is 100 driver rows
    * (a merge table, not data), so the memo holds the Seq itself —
    * `x_bpe_merges_100` owns the learn cost in the bench,
    * `x_bpe_subwords_100` prices encoding with the table.
    */
  private def bpe100For(s: org.apache.spark.sql.SparkSession,
                        d: String): Seq[(String, String)] =
    Artifacts.memo(s, ("bpe100", d)) {
      TextAnalysis.bpeLearnBatched(Tables.documents(s, d), "text", numMerges = 100)
        .orderBy("merge_rank").select("left", "right").collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq
    }(_ => ())

  /** MinHash candidate-pair memo — the same build/probe split as
    * [[ivfFor]]: `x_minhash_lsh` owns candidate generation in the bench;
    * `x_jaccard_verify` verifies PRECOMPUTED candidates, so its timing
    * isolates the verification stage (the 100 TB lifecycle: candidates
    * are written once, verified from storage).
    */
  private def minhashCandsFor(s: org.apache.spark.sql.SparkSession, d: String) =
    Artifacts.memo(s, ("minhash_cands", d)) {
      val cached = Dedup.minhashCandidates(Tables.documents(s, d), "doc_id", "text")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      cached.count() // materialize: verification reads only the cached pairs
      cached
    }(_.unpersist())

  /** Duplicate-cluster memo: connected components over the exact cosine
    * near-dup pairs. The value is [[Dedup.duplicateClusters]]' label
    * table, a projection of its last round's checkpoint, so eviction
    * frees it through [[Artifacts.release]].
    */
  private def clustersFor(s: org.apache.spark.sql.SparkSession, d: String) =
    Artifacts.memo(s, ("clusters", d)) {
      Dedup.duplicateClusters(Similarity.cosineNearDuplicates(
        Tables.embeddings(s, d).filter(col("vec_id") < 300), "vec_id", "embedding", 0.3))
    }(Artifacts.release)

  /** Stored LSH signature index, (_band, _sig)-bucketed — the write side
    * of the index lifecycle `x_cosine_near_dup_lsh_stored` probes. `dim`
    * is part of the key AND the name: an index built for one
    * dimensionality must never serve a differently-dimensioned probe.
    */
  private def lshIndexTableFor(s: org.apache.spark.sql.SparkSession, d: String,
                               dim: Int): String =
    storedTable(s, d, s"graft_lsh_sig_${dim}_", buckets = 8, "_band", "_sig")(
      Similarity.bandedSignatureRows(
        Tables.embeddings(s, d), "vec_id", "embedding", dim, bitsPerBand = 8))

  /** Stored hashed-3-gram pair table
    * ([[graft.ext.TextAnalysis.ngramPairs]]) bucketed by `_id` — the
    * ingest-time write side of the lifecycle `x_jaccard_stored` verifies
    * from.
    */
  private def gramTableFor(s: org.apache.spark.sql.SparkSession, d: String): String =
    storedTable(s, d, "graft_gram_pairs_3_", buckets = 8, "_id")(
      TextAnalysis.ngramPairs(Tables.documents(s, d), "doc_id", "text", 3))

  /** Stored duplicated-6-gram hash table ([[graft.ext.Dedup.dupGramTable]])
    * bucketed by `gram_hash` — the write side of the span-scrub lifecycle
    * `x_dup_scrub_stored` reads.
    */
  private def dupGramTableFor(s: org.apache.spark.sql.SparkSession, d: String): String =
    storedTable(s, d, "graft_dup_grams_6_", buckets = 8, "gram_hash")(
      Dedup.dupGramTable(Tables.documents(s, d), "doc_id", "text", 6))

  /** What a sign-bucket row calls and returns. Every kNN row asks for
    * k = [[KnnK]] and every dedup row for cosine ≥ [[DedupMinCos]].
    */
  private sealed trait SignCall
  /** `knnJoin`: (vec_id, neighbor_id, cos, rank). */
  private final case class Knn(b: SignBucketing) extends SignCall
  /** `semanticDedup` with its bucket column: (id1, id2, bucket, cos). */
  private final case class Pairs(b: SignBucketing) extends SignCall
  /** The connected cover through the `semanticDedupCollapsed` forwarder
    * at its own default parameters, the form the corpus benchmark
    * compiles against: (id1, id2, cos). `c` is what the oracle restates.
    */
  private final case class Cover(c: SignBucketing.Collapsed) extends SignCall
  /** `semanticDedup` with no bucketing argument: (id1, id2, cos). `c` is
    * what the oracle restates.
    */
  private final case class DefaultCover(c: SignBucketing.Collapsed) extends SignCall

  private val KnnK = 3
  private val DedupMinCos = 0.4

  /** One sign-bucket registry row, built by [[signQ]]; `capped` runs it
    * on the `vec_id < 2000` slice.
    */
  private final case class SignRow(name: String, call: SignCall, capped: Boolean = false)

  private def signQ(r: SignRow): Q = Q(r.name, (s, d) => {
    val emb = corpus(s, d, r.capped)
    val dIn = queryVec(s, d).length
    def cover(pairs: org.apache.spark.sql.DataFrame) =
      pairs.select(col("id1"), col("id2"), round(col("cos"), 6).as("cos")).orderBy("id1", "id2")
    r.call match {
      case Knn(b) =>
        knnRows(Similarity.knnJoin(emb, "vec_id", "embedding", dIn, KnnK, b))
      case Pairs(b) =>
        Similarity.semanticDedup(emb, "vec_id", "embedding", dIn, DedupMinCos, b)
          .select(col("id1"), col("id2"), col("bucket"), round(col("cos"), 6).as("cos"))
          .orderBy("id1", "id2")
      case Cover(_) =>
        cover(Similarity.semanticDedupCollapsed(emb, "vec_id", "embedding", dIn, DedupMinCos))
      case DefaultCover(_) =>
        cover(Similarity.semanticDedup(emb, "vec_id", "embedding", dIn, DedupMinCos))
    }
  }, Some(signOracle(r)))

  /** A kNN join's rows as the registry compares them. */
  private def knnRows(df: org.apache.spark.sql.DataFrame) =
    df.select(col("vec_id"), col("neighbor_id"), round(col("cos"), 6).as("cos"), col("rank"))
      .orderBy("vec_id", "rank")

  /** `x(vec_id, dim, v, j)` unnests `src`, and `p(vec_id, i, y)` projects
    * every vector onto the portable JL rows `0 until planes` (SQL).
    */
  private def jlProjectionCtes(src: String, planes: String): String =
    "x AS (SELECT vec_id, len(embedding) AS dim, CAST(unnest(embedding) AS DOUBLE) AS v, " +
      s"generate_subscripts(embedding, 1) - 1 AS j FROM $src), " + jlRowsCte("p", "0", planes)

  /** `name(vec_id, i, y)`: the projection of every `x` vector onto JL
    * rows `from until until`. Entry (i, j) is +1 when
    * `((i·dim + j)·2654435761) mod 2^32 < 2^31`, else −1
    * ([[Similarity.jlMatrix]]), so the sign of row i does not depend on
    * the matrix height. The 1/√planes scale is left out: no bucket
    * changes under positive scaling.
    */
  private def jlRowsCte(name: String, from: String, until: String): String =
    s"$name AS (SELECT vec_id, i, sum(v * CASE WHEN " +
      "((i * dim + j) * 2654435761) % 4294967296 < 2147483648 THEN 1 ELSE -1 END) AS y " +
      s"FROM x CROSS JOIN (SELECT unnest(generate_series($from, $until - 1)) AS i) " +
      "GROUP BY vec_id, i)"

  /** `name(vec_id, out)`: Σ 2^(shift) over the rows of `proj` with y ≥ 0. */
  private def signFoldCte(name: String, out: String, proj: String, shift: String = "i"): String =
    s"$name AS (SELECT vec_id, CAST(sum(CASE WHEN y >= 0 " +
      s"THEN (CAST(1 AS BIGINT) << ($shift)) ELSE 0 END) AS BIGINT) AS $out FROM $proj GROUP BY vec_id)"

  /** `pl(planes)`: [[SignBucketing.Auto.planes]] over `count(*)` of
    * `src`, the smallest p ≥ minPlanes with ceil(n / targetBucket) ≤ 2^p,
    * in integer arithmetic (no floating log2).
    */
  private def planeRuleCtes(targetBucket: Long, minPlanes: Int, src: String): String =
    s"nn AS (SELECT (count(*) + ${targetBucket - 1}) // $targetBucket AS needed FROM $src), " +
      s"pl AS (SELECT min(p) AS planes FROM generate_series($minPlanes, 62) t(p), nn " +
      "WHERE (CAST(1 AS BIGINT) << p) >= nn.needed)"

  /** `bk(vec_id, bucket)` for every `src` vector under `b`, restated
    * from its numeric fields only. Adaptive: level-1 buckets at the Auto
    * plane count (`b1`), the occupancy histogram (`oc`), the delta rule
    * (smallest d ≥ 1 with `maxOcc >> d ≤ cap`, 0 when no bucket exceeds
    * the cap, 20 at most, as the Scala loop), level-2 signs from JL rows
    * planes until planes + delta (`sb`), and the post-split id
    * `(bucket << delta) | (hot ? sub : 0)`. Collapsed: the same over the
    * min-id representative of each distinct vector (`reps`), with
    * `mem(id, rep)` mapping every non-null row to its representative
    * (DuckDB groups and joins LIST values natively, like Spark's groupBy
    * on the array column).
    */
  private[queries] def signBucketCtes(b: SignBucketing, src: String): String = b match {
    case SignBucketing.Fixed(planes) =>
      jlProjectionCtes(src, planes.toString) + ", " + signFoldCte("bk", "bucket", "p")
    case SignBucketing.Auto(targetBucket, minPlanes) =>
      planeRuleCtes(targetBucket, minPlanes, src) + ", " +
        jlProjectionCtes(src, "(SELECT planes FROM pl)") + ", " + signFoldCte("bk", "bucket", "p")
    case SignBucketing.Adaptive(targetBucket, minPlanes, splitFactor) =>
      val cap = targetBucket * splitFactor
      planeRuleCtes(targetBucket, minPlanes, src) + ", " +
        jlProjectionCtes(src, "(SELECT planes FROM pl)") + ", " + signFoldCte("b1", "bucket", "p") + ", " +
        "oc AS (SELECT bucket, count(*) AS occ FROM b1 GROUP BY bucket), " +
        s"dl AS (SELECT CASE WHEN max(occ) <= $cap THEN 0 ELSE " +
        "coalesce((SELECT min(d) FROM generate_series(1, 19) t(d) " +
        s"WHERE ((SELECT max(occ) FROM oc) >> d) <= $cap), 20) END AS delta FROM oc), " +
        jlRowsCte("p2", "(SELECT planes FROM pl)", "(SELECT planes + delta FROM pl, dl)") + ", " +
        signFoldCte("sb", "sub", "p2", "i - (SELECT planes FROM pl)") + ", " +
        "bk AS (SELECT b.vec_id, ((b.bucket << (SELECT delta FROM dl)) | " +
        s"CASE WHEN o.occ > $cap THEN coalesce(s.sub, 0) ELSE 0 END) AS bucket " +
        "FROM b1 b JOIN oc o ON b.bucket = o.bucket LEFT JOIN sb s ON s.vec_id = b.vec_id)"
    case SignBucketing.Collapsed(targetBucket, minPlanes, splitFactor) =>
      s"reps AS (SELECT min(vec_id) AS vec_id, embedding FROM $src " +
        "WHERE embedding IS NOT NULL GROUP BY embedding), " +
        s"mem AS (SELECT e.vec_id AS id, r0.vec_id AS rep FROM $src e " +
        "JOIN reps r0 ON e.embedding = r0.embedding), " +
        signBucketCtes(SignBucketing.Adaptive(targetBucket, minPlanes, splitFactor), "reps")
  }

  /** The DuckDB restatement of a sign-bucket row: [[signBucketCtes]],
    * same-bucket pairs re-scored by exact cosine from the corpus (`sm`),
    * then the kNN or dedup tail. Over `Collapsed` buckets the kNN tail
    * fans each representative's top-k out to the k smallest member ids
    * of each neighbour cluster (later members cannot rank) and adds
    * twins at cos 1.0 for the k + 1 smallest ids per cluster, then
    * re-ranks per original id; the dedup tail adds the star edges
    * (rep → member, cos 1.0). `+ 0` turns DuckDB's −0.0 from `round`
    * into the 0.0 Spark emits.
    */
  private def signOracle(r: SignRow): String = {
    val (b, knn, bucketCol) = r.call match {
      case Knn(b) => (b, true, false)
      case Pairs(b) => (b, false, true)
      case Cover(c) => (c, false, false)
      case DefaultCover(c) => (c, false, false)
    }
    val base = if (r.capped) "sl" else "embeddings"
    val collapsed = b.isInstanceOf[SignBucketing.Collapsed]
    val pairs =
      s"pr AS (SELECT a.vec_id AS id1, b.vec_id AS id2, a.bucket AS bucket FROM bk a " +
        s"JOIN bk b ON a.bucket = b.bucket AND a.vec_id ${if (knn) "<>" else "<"} b.vec_id), " +
        "dd AS (SELECT id1, id2, bucket, unnest(e1.embedding) AS xx, " +
        s"unnest(e2.embedding) AS yy FROM pr JOIN $base e1 ON e1.vec_id = pr.id1 " +
        s"JOIN $base e2 ON e2.vec_id = pr.id2), " +
        "sm AS (SELECT id1, id2, bucket, dt / (sqrt(nx) * sqrt(ny)) AS c FROM (" +
        "SELECT id1, id2, bucket, sum(CAST(xx AS DOUBLE) * CAST(yy AS DOUBLE)) AS dt, " +
        "sum(CAST(xx AS DOUBLE) * CAST(xx AS DOUBLE)) AS nx, " +
        "sum(CAST(yy AS DOUBLE) * CAST(yy AS DOUBLE)) AS ny FROM dd GROUP BY id1, id2, bucket))"
    val tail =
      if (knn) {
        val ranked = "r AS (SELECT id1, id2, c, row_number() OVER " +
          "(PARTITION BY id1 ORDER BY c DESC, id2) AS rk FROM sm), "
        val nb =
          if (!collapsed) "nb AS (SELECT id1 AS vec_id, id2 AS neighbor_id, c, rk FROM r)"
          else "mr AS (SELECT id, rep, row_number() OVER (PARTITION BY rep ORDER BY id) AS mrk FROM mem), " +
            "ex AS (SELECT m.id AS vec_id, n.id AS neighbor_id, t.c FROM mem m " +
            s"JOIN r t ON t.id1 = m.rep AND t.rk <= $KnnK JOIN mr n ON n.rep = t.id2 AND n.mrk <= $KnnK), " +
            "tw AS (SELECT m.id AS vec_id, t.id AS neighbor_id, CAST(1.0 AS DOUBLE) AS c FROM mem m " +
            s"JOIN mr t ON t.rep = m.rep AND t.mrk <= ${KnnK + 1} WHERE m.id <> t.id), " +
            "nb AS (SELECT vec_id, neighbor_id, c, row_number() OVER " +
            "(PARTITION BY vec_id ORDER BY c DESC, neighbor_id) AS rk " +
            "FROM (SELECT * FROM ex UNION ALL SELECT * FROM tw))"
        ranked + nb + " SELECT vec_id, neighbor_id, round(c, 6) + 0 AS cos, " +
          s"CAST(rk AS BIGINT) AS rank FROM nb WHERE rk <= $KnnK ORDER BY vec_id, rank"
      } else {
        val cols = if (bucketCol) "id1, id2, bucket" else "id1, id2"
        val star =
          if (!collapsed) ""
          else s" UNION ALL SELECT rep, id, ${if (bucketCol) "NULL, " else ""}" +
            "CAST(1.0 AS DOUBLE) FROM mem WHERE id <> rep"
        s"rp AS (SELECT $cols, c FROM sm WHERE c >= $DedupMinCos$star) " +
          s"SELECT $cols, round(c, 6) + 0 AS cos FROM rp ORDER BY id1, id2"
      }
    "WITH " + (if (r.capped) sliceCte(CapBound) + ", " else "") +
      signBucketCtes(b, base) + ", " + pairs + ", " + tail
  }

  /** The UNMATERIALIZED plans behind the memoized queries, for the plan
    * audit (ExplainAuditSpec): a memo returns a checkpoint/persisted
    * frame whose audited plan is just a cache scan — a scale
    * anti-pattern hidden behind a memo would otherwise evade the gate.
    * One entry per memo family: minhash candidates, the LSH signature
    * index, the IVF KMeans fit input, the cluster pairs (exempt — the
    * exact all-pairs anchor, same documented shape as
    * `x_cosine_near_dup`), and one cluster propagation round (over a
    * synthetic narrow pairs source, so the round's own joins are audited
    * without the exempt pairs subplan). Thunks, not frames: a builder
    * that fails to construct must PLAN-ERROR its own row, not abort the
    * sweep.
    */
  def auditablePlans(s: org.apache.spark.sql.SparkSession, d: String):
      Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
    "memo:minhash_candidates" -> (() =>
      Dedup.minhashCandidates(Tables.documents(s, d), "doc_id", "text")),
    "memo:lsh_signature_index" -> (() => Similarity.bandedSignatureRows(
      Tables.embeddings(s, d), "vec_id", "embedding", queryVec(s, d).length, bitsPerBand = 8)),
    "memo:ivf_fit_input" -> (() => Similarity.ivfFitInput(
      Tables.embeddings(s, d).filter(col("vec_id") > 0), "embedding")),
    "memo:gram_pair_index" -> (() => TextAnalysis.ngramPairs(
      Tables.documents(s, d), "doc_id", "text", 3)),
    "memo:dup_gram_table" -> (() => Dedup.dupGramTable(
      Tables.documents(s, d), "doc_id", "text", 6)),
    "memo:bpe_round" -> (() => TextAnalysis.bpePairCounts(
      TextAnalysis.bpeInitialWords(Tables.documents(s, d), "text"))),
    "memo:cluster_pairs" -> (() => Similarity.cosineNearDuplicates(
      Tables.embeddings(s, d).filter(col("vec_id") < 300), "vec_id", "embedding", 0.3)),
    "memo:cluster_round" -> (() => {
      // the production edge/label builders over a synthetic NARROW pairs
      // source, so the round's own joins are audited without the exempt
      // all-pairs subplan
      val syntheticPairs = Tables.embeddings(s, d)
        .select(col("vec_id").as("id1"), (col("vec_id") + 1).as("id2"))
      val edges = Dedup.clusterEdges(syntheticPairs)
      Dedup.clusterRound(edges, Dedup.clusterLabelsInit(edges))
    }))

  /** Shared oracle fragments for the quality rules — ONE copy of the
    * signal CTEs and threshold chain, interpolating the SAME constants
    * the Spark-side [[TextAnalysis.qualityFilter]] defaults to, so a
    * tuning change can never desynchronize the two oracles from the
    * engine.
    */
  /** The same signal CTEs over an arbitrary upstream relation — the web
    * funnel runs them over EXTRACTED text, not the raw documents table.
    */
  private def qualitySignalsCteFrom(rel: String): String =
    s"t AS (SELECT doc_id, text, string_split_regex(text, ' +') AS toks FROM $rel), " +
    "s AS (SELECT doc_id, text, len(toks) AS n_tokens, " +
    "(length(text) - len(toks) + 1) / CAST(len(toks) AS DOUBLE) AS mtl, " +
    "(length(text) - length(regexp_replace(text, '[\\.,;:!\\?]', '', 'g'))) / " +
    "CAST(length(text) AS DOUBLE) AS punct, " +
    "len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','on','for'))) / " +
    "CAST(len(toks) AS DOUBLE) AS stop FROM t)"

  private val QualitySignalsCte = qualitySignalsCteFrom("documents")

  /** Deterministic markup wrapped around every document — ONE copy of
    * the synthetic page shared by `x_html_extract` and `x_web_funnel`
    * on the Spark side, with [[HtmlWrapSql]] its oracle twin, so the
    * two can never drift apart.
    */
  private def wrappedHtml: org.apache.spark.sql.Column = concat(
    lit("<html><head><script type=\"text/javascript\">var x = 1 < 2; " +
      "// <div> inside</script><style>p { color: red }</style></head>" +
      "<body><!-- banner --><h1>"),
    col("source"), lit("</h1>\n<p>"), col("text"),
    lit("</p>\n<p>it&#39;s &quot;done&quot; &lt;eof&gt; &amp;nbsp;</p></body></html>"))

  private val HtmlWrapSql =
    "'<html><head><script type=\"text/javascript\">var x = 1 < 2; " +
    "// <div> inside</script><style>p { color: red }</style></head>" +
    "<body><!-- banner --><h1>' || source || '</h1>' || chr(10) || '<p>' || text || " +
    "'</p>' || chr(10) || " +
    "'<p>it&#39;s &quot;done&quot; &lt;eof&gt; &amp;nbsp;</p></body></html>'"

  /** The oracle's strip/decode chain over relation `src` (must expose
    * doc_id + ht); leaves the pre-collapse text in CTE `d6` column `t` —
    * finish with [[HtmlExtractedSql]].
    */
  private def htmlExtractCtes(src: String): String =
    s"a AS (SELECT doc_id, regexp_replace(ht, " +
    s"'(?is)<(script|style)[^>]*>.*?</(script|style)\\s*>', ' ', 'g') AS t FROM $src), " +
    "b AS (SELECT doc_id, regexp_replace(t, '(?s)<!--.*?-->', ' ', 'g') AS t FROM a), " +
    "c AS (SELECT doc_id, regexp_replace(t, '<[^>]*>', ' ', 'g') AS t FROM b), " +
    "d1 AS (SELECT doc_id, regexp_replace(t, '&nbsp;', ' ', 'g') AS t FROM c), " +
    "d2 AS (SELECT doc_id, regexp_replace(t, '&lt;', '<', 'g') AS t FROM d1), " +
    "d3 AS (SELECT doc_id, regexp_replace(t, '&gt;', '>', 'g') AS t FROM d2), " +
    "d4 AS (SELECT doc_id, regexp_replace(t, '&quot;', '\"', 'g') AS t FROM d3), " +
    "d5 AS (SELECT doc_id, regexp_replace(t, '&#39;', chr(39), 'g') AS t FROM d4), " +
    "d6 AS (SELECT doc_id, regexp_replace(t, '&amp;', '&', 'g') AS t FROM d5)"

  private val HtmlExtractedSql = "trim(regexp_replace(t, '\\s+', ' ', 'g'))"

  private val QualityReasonSql =
    s"CASE WHEN n_tokens < ${TextAnalysis.DefaultMinTokens} THEN 'short' " +
    s"WHEN mtl > ${TextAnalysis.DefaultMaxMeanTokenLen} THEN 'long_tokens' " +
    s"WHEN punct > ${TextAnalysis.DefaultMaxPunctRatio} THEN 'punct' " +
    s"WHEN stop < ${TextAnalysis.DefaultMinStopwordRatio} THEN 'low_stopword' END"

  val all: Seq[Q] = Seq(

    // Exact dedup via content-hash groupBy (shuffles 8-byte hashes, not text).
    Q("x_dedup_exact",
      (s, d) => Dedup.exact(Tables.documents(s, d), "doc_id", "text")
        .select("keep_id", "copies")
        .orderBy("keep_id"),
      Some("SELECT min(doc_id) AS keep_id, CAST(count(*) AS BIGINT) AS copies " +
        "FROM documents GROUP BY text ORDER BY keep_id")),

    // Exact dedup over NORMALIZED text (lowercase, punctuation stripped,
    // whitespace collapsed) — catches case/punctuation near-copies that
    // byte-exact hashing misses. The oracle restates the same canonical
    // form with DuckDB's regexp functions (patterns are RE2/Java-common
    // syntax by construction).
    Q("x_dedup_normalized",
      (s, d) => {
        val docs = Tables.documents(s, d)
        Dedup.exact(
          docs.withColumn("text", TextAnalysis.normalize(col("text"))),
          "doc_id", "text")
          .select("keep_id", "copies")
          .orderBy("keep_id")
      },
      Some("WITH n AS (SELECT doc_id, trim(regexp_replace(regexp_replace(lower(text), " +
        "'[\\.,;:!\\?''\"()\\[\\]{}]', '', 'g'), '\\s+', ' ', 'g')) AS text FROM documents) " +
        "SELECT min(doc_id) AS keep_id, CAST(count(*) AS BIGINT) AS copies " +
        "FROM n GROUP BY text ORDER BY keep_id")),

    // Incremental exact dedup: the new batch (doc_id % 5 != 0) dedupes
    // against the stored hash table of the already-ingested slice
    // (doc_id % 5 == 0) — anti join on the 8-byte content hash, then
    // first-in-batch wins. Oracle restates both stages over text
    // equality (hash ≡ text modulo 64-bit collisions, the x_dedup_exact
    // identity).
    Q("x_dedup_incremental",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val seen = Dedup.exact(docs.filter(col("doc_id") % 5 === 0), "doc_id", "text")
          .select(col("content_hash"))
        Dedup.exactIncremental(docs.filter(col("doc_id") % 5 =!= 0), "doc_id", "text", seen)
          .select(col("doc_id"), col("lang"), col("source"))
          .orderBy("doc_id")
      },
      Some("WITH seen AS (SELECT DISTINCT text FROM documents WHERE doc_id % 5 = 0), " +
        "batch AS (SELECT * FROM documents WHERE doc_id % 5 <> 0), " +
        "unseen AS (SELECT b.doc_id, b.text, b.lang, b.source FROM batch b " +
        "LEFT JOIN seen s ON b.text = s.text WHERE s.text IS NULL), " +
        "k AS (SELECT text, min(doc_id) AS keep FROM unseen GROUP BY text) " +
        "SELECT u.doc_id, u.lang, u.source FROM unseen u " +
        "JOIN k ON u.text = k.text AND u.doc_id = k.keep ORDER BY u.doc_id")),

    // The same incremental dedup THROUGH the bloom prefilter: the
    // history's bloom filter (built per call here; stored alongside the
    // hash table at scale) routes definitely-new rows around the anti
    // join entirely. A bloom has no false negatives, so the output is
    // row-for-row identical to x_dedup_incremental — the same
    // text-equality oracle checks the sketch path end to end.
    Q("x_dedup_incremental_bloom",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val seen = Dedup.exact(docs.filter(col("doc_id") % 5 === 0), "doc_id", "text")
          .select(col("content_hash"))
        // size by the metadata-only corpus count (upper bound on the
        // ingested slice): overestimating only lowers the FPR, and it
        // avoids a full distinct-count job per call
        val bloom = Dedup.seenBloom(seen, "content_hash",
          expectedItems = math.max(docs.count() / 5, 1L))
        Dedup.exactIncrementalBloom(docs.filter(col("doc_id") % 5 =!= 0),
            "doc_id", "text", seen, bloom)
          .select(col("doc_id"), col("lang"), col("source"))
          .orderBy("doc_id")
      },
      Some("WITH seen AS (SELECT DISTINCT text FROM documents WHERE doc_id % 5 = 0), " +
        "batch AS (SELECT * FROM documents WHERE doc_id % 5 <> 0), " +
        "unseen AS (SELECT b.doc_id, b.text, b.lang, b.source FROM batch b " +
        "LEFT JOIN seen s ON b.text = s.text WHERE s.text IS NULL), " +
        "k AS (SELECT text, min(doc_id) AS keep FROM unseen GROUP BY text) " +
        "SELECT u.doc_id, u.lang, u.source FROM unseen u " +
        "JOIN k ON u.text = k.text AND u.doc_id = k.keep ORDER BY u.doc_id")),

    // HTML text extraction: markup is built DETERMINISTICALLY around
    // each document (script/style payloads, comments, entities), then
    // stripped back to plain text — the oracle rebuilds the same markup
    // and re-derives the whole strip/decode chain, so every regex stage
    // (incl. the decode-&amp;-last ordering) is engine-checked.
    Q("x_html_extract",
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"),
          TextAnalysis.extractHtmlText(wrappedHtml).as("clean_text"))
        .orderBy("doc_id"),
      Some(s"WITH h AS (SELECT doc_id, $HtmlWrapSql AS ht FROM documents), " +
        htmlExtractCtes("h") +
        s" SELECT doc_id, $HtmlExtractedSql AS clean_text FROM d6 ORDER BY doc_id")),

    // The parser-grade escape hatch on the SAME page corpus and oracle:
    // HtmlExtraction.extractWithParser runs the pluggable partition-local
    // parser (here the stub, byte-parity with the regex kernel — pinned in
    // HtmlExtractionSpec) through its real mapPartitions stage, so the
    // production swap point is priced in BENCH and hash-checked against
    // the DuckDB extraction oracle, not just unit-tested.
    Q("x_html_extract_parser",
      (s, d) => {
        val wrapped = Tables.documents(s, d)
          .select(col("doc_id"), wrappedHtml.as("ht"))
        HtmlExtraction.extractWithParser(wrapped, "ht", out = "clean_text")
          .select(col("doc_id"), col("clean_text"))
          .orderBy("doc_id")
      },
      Some(s"WITH h AS (SELECT doc_id, $HtmlWrapSql AS ht FROM documents), " +
        htmlExtractCtes("h") +
        s" SELECT doc_id, $HtmlExtractedSql AS clean_text FROM d6 ORDER BY doc_id")),

    // The web-ingest funnel end to end, per source: wrap each document
    // in the deterministic markup, EXTRACT plain text, quality-filter
    // the EXTRACTED text, exact-dedup the keepers — then report
    // input/kept/unique counts per ingest source. Every stage is the
    // registered operator; the oracle restates extraction, the signal
    // thresholds, and hash-distinct-as-text-distinct per source.
    Q("x_web_funnel",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val clean = docs.select(col("doc_id"), col("source"),
          TextAnalysis.extractHtmlText(wrappedHtml).as("text"))
        val kept = TextAnalysis.qualityFilter(clean, "text").filter(col("keep"))
        val perSrc = kept.groupBy("source").agg(
          count(lit(1)).as("n_kept"),
          countDistinct(xxhash64(col("text"))).as("n_unique"))
        docs.groupBy("source").agg(count(lit(1)).as("n_input"))
          .join(perSrc, Seq("source"), "left")
          .select(col("source"), col("n_input"),
            coalesce(col("n_kept"), lit(0L)).as("n_kept"),
            coalesce(col("n_unique"), lit(0L)).as("n_unique"))
          .orderBy("source")
      },
      Some(s"WITH h AS (SELECT doc_id, $HtmlWrapSql AS ht FROM documents), " +
        htmlExtractCtes("h") +
        s", xd AS (SELECT doc_id, $HtmlExtractedSql AS text FROM d6), " +
        qualitySignalsCteFrom("xd") +
        s", k AS (SELECT doc_id, text FROM s WHERE ($QualityReasonSql) IS NULL), " +
        "g AS (SELECT dd.source, k.text FROM k JOIN documents dd USING (doc_id)), " +
        "ps AS (SELECT source, CAST(count(*) AS BIGINT) AS n_kept, " +
        "CAST(count(DISTINCT text) AS BIGINT) AS n_unique FROM g GROUP BY source), " +
        "ai AS (SELECT source, CAST(count(*) AS BIGINT) AS n_input " +
        "FROM documents GROUP BY source) " +
        "SELECT ai.source, ai.n_input, coalesce(ps.n_kept, 0) AS n_kept, " +
        "coalesce(ps.n_unique, 0) AS n_unique FROM ai " +
        "LEFT JOIN ps ON ps.source = ai.source ORDER BY ai.source")),

    // Portable train/val/test split: assignment re-derivable from the
    // Knuth-hash arithmetic alone, so the oracle recomputes every
    // document's bucket AND the per-split id checksum — the full
    // assignment is checked, not just the counts.
    Q("x_portable_split",
      (s, d) => graft.prep.Prep.portableSplit(Tables.documents(s, d), "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_sum"))
        .orderBy("split"),
      Some("WITH b AS (SELECT doc_id, " +
        "((doc_id * 2654435761) % 4294967296) % 10000 AS bk FROM documents), " +
        "sp AS (SELECT doc_id, CASE WHEN bk < 8000 THEN 'train' " +
        "WHEN bk < 9000 THEN 'val' ELSE 'test' END AS split FROM b) " +
        "SELECT split, CAST(count(*) AS BIGINT) AS n_docs, " +
        "CAST(sum(doc_id) AS BIGINT) AS id_sum FROM sp " +
        "GROUP BY split ORDER BY split")),

    // Corpus-version snapshot diff: distinct-content added / removed /
    // unchanged between two slices (v1 = ids divisible by 3, v2 = even
    // ids; overlap = ids divisible by 6, so every count is non-trivial
    // at every sf). Oracle restates the hash joins over text equality.
    Q("x_corpus_diff",
      (s, d) => {
        val docs = Tables.documents(s, d)
        Dedup.corpusDiff(docs.filter(col("doc_id") % 3 === 0),
          docs.filter(col("doc_id") % 2 === 0), "text")
      },
      Some("WITH h1 AS (SELECT DISTINCT text FROM documents WHERE doc_id % 3 = 0), " +
        "h2 AS (SELECT DISTINCT text FROM documents WHERE doc_id % 2 = 0) " +
        "SELECT (SELECT CAST(count(*) AS BIGINT) FROM h2 " +
        "LEFT JOIN h1 ON h2.text = h1.text WHERE h1.text IS NULL) AS n_added, " +
        "(SELECT CAST(count(*) AS BIGINT) FROM h1 " +
        "LEFT JOIN h2 ON h1.text = h2.text WHERE h2.text IS NULL) AS n_removed, " +
        "(SELECT CAST(count(*) AS BIGINT) FROM h1 " +
        "JOIN h2 ON h1.text = h2.text) AS n_unchanged")),

    // Token counting (whitespace tokenizer).
    Q("x_token_count",
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"), TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
        .orderBy("doc_id"),
      Some("SELECT doc_id, CAST(len(string_split_regex(text, ' +')) AS BIGINT) AS n_tokens " +
        "FROM documents ORDER BY doc_id")),

    // Quality scoring: token/char/punct/stopword signals in one pass.
    Q("x_quality_signals",
      (s, d) => TextAnalysis.qualitySignals(Tables.documents(s, d), "text")
        .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
          round(col("mean_token_len"), 6).as("mean_token_len"),
          round(col("punct_ratio"), 6).as("punct_ratio"),
          round(col("stopword_ratio"), 6).as("stopword_ratio"))
        .orderBy("doc_id"),
      Some("WITH t AS (SELECT doc_id, text, string_split_regex(text, ' +') AS toks FROM documents) " +
        "SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens, " +
        "round((length(text) - len(toks) + 1) / CAST(len(toks) AS DOUBLE), 6) AS mean_token_len, " +
        "round((length(text) - length(regexp_replace(text, '[\\.,;:!\\?]', '', 'g'))) / " +
        "CAST(length(text) AS DOUBLE), 6) AS punct_ratio, " +
        "round(len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','on','for'))) / " +
        "CAST(len(toks) AS DOUBLE), 6) AS stopword_ratio FROM t ORDER BY doc_id")),

    // The training-data pipeline composite, end-to-end: quality filter →
    // exact dedup among the kept docs → survivor counts. One row:
    // (n_input, n_quality, n_survivors) — the funnel a real corpus build
    // reports at each stage. Each stage is the registered operator, not a
    // re-implementation.
    Q("x_pipeline_filter_dedup",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val kept = TextAnalysis.qualityFilter(docs, "text").filter(col("keep"))
        val survivors = Dedup.exact(kept, "doc_id", "text")
        docs.agg(count(lit(1)).as("n_input"))
          .crossJoin(broadcast(kept.agg(count(lit(1)).as("n_quality"))))
          .crossJoin(broadcast(survivors.agg(count(lit(1)).as("n_survivors"))))
      },
      Some(s"WITH $QualitySignalsCte, " +
        s"k AS (SELECT doc_id, text FROM s WHERE ($QualityReasonSql) IS NULL), " +
        "u AS (SELECT min(doc_id) AS keep_id FROM k GROUP BY text) " +
        "SELECT (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_input, " +
        "(SELECT CAST(count(*) AS BIGINT) FROM k) AS n_quality, " +
        "(SELECT CAST(count(*) AS BIGINT) FROM u) AS n_survivors")),

    // Round-6 composite: the corpus-VERSION build funnel in one plan —
    // incremental exact dedup of the new batch against the ingested
    // slice's hash table, a 4-gram decontamination gate vs the benchmark
    // slice, then a boilerplate filter over the survivors' own n-gram
    // document frequencies. Each stage is the registered operator; the
    // oracle restates all three over string n-grams / text equality.
    // (Docs shorter than 4 tokens have no grams and drop at the novelty
    // join, both sides.)
    Q("x_corpus_funnel",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val seen = Dedup.exact(docs.filter(col("doc_id") % 5 === 0), "doc_id", "text")
          .select(col("content_hash"))
        val unseen = Dedup.exactIncremental(
          docs.filter(col("doc_id") % 5 =!= 0), "doc_id", "text", seen)
        val clean = unseen.join(
          Dedup.decontaminate(unseen, docs.filter(col("doc_id") % 20 === 0),
              "doc_id", "text", n = 4)
            .filter(!col("contaminated")).select("doc_id"),
          "doc_id")
        val fin = clean.join(
          TextAnalysis.ngramNovelty(clean, "doc_id", "text", n = 4, boilerplateDf = 3)
            .filter(col("boilerplate_frac") < 0.04).select("doc_id"),
          "doc_id")
        unseen.agg(count(lit(1)).as("n_unseen"))
          .crossJoin(broadcast(clean.agg(count(lit(1)).as("n_clean"))))
          .crossJoin(broadcast(fin.agg(count(lit(1)).as("n_final"))))
      },
      Some("WITH seen AS (SELECT DISTINCT text FROM documents WHERE doc_id % 5 = 0), " +
        "b AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0), " +
        "un AS (SELECT b.doc_id, b.text FROM b LEFT JOIN seen sn ON b.text = sn.text " +
        "WHERE sn.text IS NULL), " +
        "u AS (SELECT un.doc_id, un.text FROM un JOIN " +
        "(SELECT text, min(doc_id) AS k FROM un GROUP BY text) m " +
        "ON un.text = m.text AND un.doc_id = m.k), " +
        "tb AS (SELECT string_split_regex(text, ' +') AS toks FROM documents " +
        "WHERE doc_id % 20 = 0), " +
        "eb AS (SELECT toks, unnest(generate_series(1, len(toks) - 3)) AS p FROM tb " +
        "WHERE len(toks) >= 4), " +
        "bg AS (SELECT DISTINCT array_to_string(toks[p:p+3], ' ') AS ngram FROM eb), " +
        "tu AS (SELECT doc_id, text, string_split_regex(text, ' +') AS toks FROM u), " +
        "eu AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 3)) AS p " +
        "FROM tu WHERE len(toks) >= 4), " +
        "ug AS (SELECT doc_id, array_to_string(toks[p:p+3], ' ') AS ngram FROM eu), " +
        "contam AS (SELECT DISTINCT ug.doc_id FROM ug JOIN bg USING (ngram)), " +
        "c AS (SELECT tu.doc_id, tu.toks FROM tu LEFT JOIN contam " +
        "ON tu.doc_id = contam.doc_id WHERE contam.doc_id IS NULL), " +
        "ec AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 3)) AS p " +
        "FROM c WHERE len(toks) >= 4), " +
        "cg AS (SELECT DISTINCT doc_id, array_to_string(toks[p:p+3], ' ') AS ngram FROM ec), " +
        "dfc AS (SELECT ngram, count(*) AS docfreq FROM cg GROUP BY ngram), " +
        "nv AS (SELECT doc_id, round(avg(CASE WHEN docfreq >= 3 THEN 1.0 ELSE 0.0 END), 6) AS boiler " +
        "FROM cg JOIN dfc USING (ngram) GROUP BY doc_id), " +
        "fin AS (SELECT c.doc_id FROM c JOIN nv ON c.doc_id = nv.doc_id " +
        "WHERE nv.boiler < 0.04) " +
        "SELECT (SELECT CAST(count(*) AS BIGINT) FROM u) AS n_unseen, " +
        "(SELECT CAST(count(*) AS BIGINT) FROM c) AS n_clean, " +
        "(SELECT CAST(count(*) AS BIGINT) FROM fin) AS n_final")),

    // Repetition signal (Gopher rule): top-token mass + distinct-token
    // count per document.
    Q("x_repetition",
      (s, d) => TextAnalysis.repetitionSignals(Tables.documents(s, d), "doc_id", "text")
        .select(col("doc_id"), round(col("top_token_ratio"), 6).as("top_token_ratio"),
          col("n_distinct_tokens"))
        .orderBy("doc_id"),
      Some("WITH tok AS (SELECT doc_id, unnest(string_split_regex(text, ' +')) AS t " +
        "FROM documents), " +
        "c AS (SELECT doc_id, t, count(*) AS c FROM tok WHERE length(t) > 0 " +
        "GROUP BY doc_id, t) " +
        "SELECT doc_id, round(CAST(max(c) AS DOUBLE) / sum(c), 6) AS top_token_ratio, " +
        "CAST(count(*) AS BIGINT) AS n_distinct_tokens FROM c " +
        "GROUP BY doc_id ORDER BY doc_id")),

    // Vocabulary building: corpus-wide token top-k by (freq desc, token) —
    // map-side-combined aggregate + distributed TakeOrdered.
    Q("x_vocab_topk",
      (s, d) => TextAnalysis.vocabulary(Tables.documents(s, d), "text", 100),
      Some("WITH tok AS (SELECT unnest(string_split_regex(text, ' +')) AS token FROM documents) " +
        "SELECT token, CAST(count(*) AS BIGINT) AS freq FROM tok WHERE length(token) > 0 " +
        "GROUP BY token ORDER BY freq DESC, token LIMIT 100")),

    // Count–min-sketch heavy hitters — the sublinear twin of
    // x_vocab_topk: fixed-width mergeable sketch + distinct-token probe,
    // nothing data-sized on one node. ORACLE-CHECKED against exact
    // counts: at the default eps the sketch is 20,000 counters wide per
    // depth row (Spark sizes width = ceil(2/eps)) while this corpus's
    // vocabulary is ~31 tokens, so no two
    // tokens collide in any row and every estimate EQUALS its exact
    // count (verified at sf0.001/0.01/0.1; deterministic seed — it
    // cannot drift). The coarse-eps collision regime, where estimates
    // exceed exact counts within the eps·N bound, is pinned separately
    // in EvalFunctionsSpec.
    Q("x_cms_heavy_hitters",
      (s, d) => Sketches.cmsTopTerms(Tables.documents(s, d), "text", k = 20),
      Some("WITH tok AS (SELECT unnest(string_split_regex(text, ' +')) AS token " +
        "FROM documents) " +
        "SELECT token, CAST(count(*) AS BIGINT) AS est_freq FROM tok " +
        "WHERE length(token) > 0 " +
        "GROUP BY token ORDER BY est_freq DESC, token LIMIT 20")),

    // HLL++ approximate corpus profile per language — constant-memory
    // distinct counts where the exact profiler (x_profile) shuffles
    // every distinct value. The raw register banks are engine-specific,
    // but the SKETCH GUARANTEE is oracle-checkable: the query joins the
    // estimates to their exact twins and emits whether each estimate
    // lands within 5x the configured rsd (a ~1-in-3.5M miss under the
    // HLL error model; small groups resolve in exact sparse mode
    // anyway), so the oracle pins TRUE per group and a drifting sketch
    // fails the hash gate. Exact counts ride along as checkable output.
    Q("x_approx_profile",
      (s, d) => {
        val approx = Sketches.approxProfile(Tables.documents(s, d), "lang",
          "doc_id", "text")
        val tok = Tables.documents(s, d)
          .select(col("lang"), col("doc_id"),
            explode(TextAnalysis.tokens(col("text"))).as("_t"))
          .filter(length(col("_t")) > 0)
        val exact = tok.groupBy("lang").agg(
          countDistinct(col("_t")).as("distinct_tokens"),
          countDistinct(col("doc_id")).as("n_docs"))
        approx.join(exact, "lang")
          .select(col("lang"), col("n_tokens"),
            col("distinct_tokens"), col("n_docs"),
            (abs(col("approx_distinct_tokens") - col("distinct_tokens")) <=
              ceil(col("distinct_tokens") * 0.1)).as("tokens_within_tol"),
            (abs(col("approx_docs") - col("n_docs")) <=
              ceil(col("n_docs") * 0.1)).as("docs_within_tol"))
          .orderBy("lang")
      },
      Some("WITH tk AS (SELECT lang, doc_id, t FROM (SELECT lang, doc_id, " +
        "unnest(string_split_regex(text, ' +')) AS t FROM documents) " +
        "WHERE length(t) > 0) " +
        "SELECT lang, CAST(count(*) AS BIGINT) AS n_tokens, " +
        "CAST(count(DISTINCT t) AS BIGINT) AS distinct_tokens, " +
        "CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs, " +
        "TRUE AS tokens_within_tol, TRUE AS docs_within_tol " +
        "FROM tk GROUP BY lang ORDER BY lang")),

    // Bigram top-k — LM co-occurrence stats, same aggregate shape as the
    // vocabulary query over 2-token shingles.
    Q("x_ngram_topk",
      (s, d) => TextAnalysis.ngramCounts(Tables.documents(s, d), "text", n = 2, k = 100),
      Some("WITH t AS (SELECT string_split_regex(text, ' +') AS toks FROM documents), " +
        "e AS (SELECT toks, unnest(generate_series(1, len(toks) - 1)) AS p FROM t), " +
        "g AS (SELECT array_to_string(toks[p:p+1], ' ') AS ngram FROM e) " +
        "SELECT ngram, CAST(count(*) AS BIGINT) AS freq FROM g " +
        "GROUP BY ngram ORDER BY freq DESC, ngram LIMIT 100")),

    // Bigram-LM quality score: mean log-prob of each doc's bigrams under
    // an add-one-smoothed corpus bigram model — the cheap LM-perplexity
    // filter. Hashed join keys; oracle states the same model over token
    // strings (identical counts under collision-free hashing).
    Q("x_lm_score",
      (s, d) => TextAnalysis.lmScore(Tables.documents(s, d), "doc_id", "text")
        .select(col("doc_id"), col("n_bigrams"),
          round(col("avg_logprob"), 6).as("avg_logprob"))
        .orderBy("doc_id"),
      Some("WITH t AS (SELECT doc_id, string_split_regex(text, ' +') AS toks FROM documents), " +
        "e AS (SELECT doc_id, toks[p] AS w1, toks[p+1] AS w2 FROM " +
        "(SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 1)) AS p FROM t " +
        "WHERE len(toks) >= 2)), " +
        "c2 AS (SELECT w1, w2, count(*) AS c2 FROM e GROUP BY w1, w2), " +
        "c1 AS (SELECT w1, count(*) AS c1 FROM e GROUP BY w1), " +
        "v AS (SELECT count(DISTINCT tok) AS v FROM (SELECT unnest(toks) AS tok FROM t)), " +
        "lm AS (SELECT w1, w2, ln((c2 + 1.0) / (c1 + v)) AS lp " +
        "FROM c2 JOIN c1 USING (w1) CROSS JOIN v) " +
        "SELECT e.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams, " +
        "round(avg(lp), 6) AS avg_logprob " +
        "FROM e JOIN lm USING (w1, w2) GROUP BY e.doc_id ORDER BY e.doc_id")),

    // Deterministic hash split (train/val/test by id hash). Exact counts
    // are engine-hash dependent (xxhash64 bucketing; stability pinned in
    // PrepSpec), but the split's two CONTRACTS are hash-free and
    // oracle-checked since r11: (1) the splits partition the corpus —
    // all three labels present and their counts sum to the document
    // count (`n_total`); (2) each split's share lands within 5 points of
    // its requested fraction (`within_tol`; the 0.1 splits have a
    // binomial sd of ~1.3 points at 500 docs, so 5 points is a ~4-sigma
    // gate, loose enough to survive data regeneration, tight enough to
    // catch a broken bucket fold).
    Q("x_hash_split",
      (s, d) => {
        val fracs = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
        val perSplit = graft.prep.Prep.hashSplit(Tables.documents(s, d), "doc_id", fracs)
          .groupBy("split").agg(count(lit(1)).as("_n"))
        val fracCol = fracs.foldLeft(lit(0.0)) {
          case (acc, (nm, f)) => when(col("split") === nm, f).otherwise(acc)
        }
        // n_total = sum of the SPLIT counts (the exhaustiveness proof —
        // the oracle states the corpus count, so a dropped row shows)
        perSplit
          .crossJoin(broadcast(perSplit.agg(sum(col("_n")).as("n_total"))))
          .select(col("split"),
            (abs(col("_n").cast("double") / col("n_total") - fracCol) <= 0.05)
              .as("within_tol"),
            col("n_total"))
          .orderBy("split")
      },
      Some("WITH s AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM documents) " +
        "SELECT v.split, true AS within_tol, s.n_total " +
        "FROM (VALUES ('test'), ('train'), ('val')) v(split), s ORDER BY split")),

    // Shard assignment stats: SQL-portable Knuth multiplicative hash →
    // shard, with doc/token counts per shard. The oracle recomputes the
    // hash arithmetic directly — the cross-engine re-derivability the
    // shard layout promises (Layout.writeShards writes this assignment).
    Q("x_shard_stats",
      (s, d) => Tables.documents(s, d)
        .select(pmod(graft.prep.Prep.portableHash(col("doc_id")), lit(8L)).as("shard"),
          TextAnalysis.tokenCount(col("text")).as("_ntok"))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"), sum(col("_ntok")).cast("long").as("n_tokens"))
        .orderBy("shard"),
      Some("WITH s AS (SELECT ((doc_id * 2654435761) % 4294967296) % 8 AS shard, " +
        "len(string_split_regex(text, ' +')) AS ntok FROM documents) " +
        "SELECT CAST(shard AS BIGINT) AS shard, CAST(count(*) AS BIGINT) AS n_docs, " +
        "CAST(sum(ntok) AS BIGINT) AS n_tokens FROM s GROUP BY shard ORDER BY shard")),

    // Per-language token-budget sampling: take docs in portable-hash
    // order until 1000 tokens per language — the corpus-mixing step.
    // Two-phase bucketed cumsum inside (no per-stratum serialization);
    // the oracle states the same running total as ONE window (fine at
    // oracle scale).
    Q("x_token_budget_sample",
      (s, d) => graft.prep.Prep.tokenBudgetSample(
          Tables.documents(s, d).select(col("doc_id"), col("lang"),
            TextAnalysis.tokenCount(col("text")).as("n_tokens")),
          "doc_id", "lang", "n_tokens", budget = 1000L)
        .select(col("doc_id"), col("lang"), col("n_tokens").cast("long").as("n_tokens"),
          col("_cum").as("cum_tokens"))
        .orderBy("doc_id"),
      Some("WITH s AS (SELECT doc_id, lang, " +
        "len(string_split_regex(text, ' +')) AS n_tokens, " +
        "(doc_id * 2654435761) % 4294967296 AS h FROM documents), " +
        "c AS (SELECT doc_id, lang, n_tokens, " +
        "sum(n_tokens) OVER (PARTITION BY lang ORDER BY h, doc_id) AS cum FROM s) " +
        "SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens, " +
        "CAST(cum AS BIGINT) AS cum_tokens FROM c WHERE cum <= 1000 ORDER BY doc_id")),

    // Sequence packing: lay documents out in portable-hash order and
    // chunk into 512-token training sequences; each doc gets the
    // (seq_id, seq_offset) where its tokens start. Two-phase bucketed
    // exclusive cumsum; the oracle states it as one window.
    Q("x_sequence_pack",
      (s, d) => graft.prep.Prep.packSequences(
          Tables.documents(s, d).select(col("doc_id"),
            TextAnalysis.tokenCount(col("text")).as("n_tokens")),
          "doc_id", "n_tokens", seqLen = 512L)
        .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
          col("seq_id"), col("seq_offset"))
        .orderBy("doc_id"),
      Some("WITH s AS (SELECT doc_id, len(string_split_regex(text, ' +')) AS n_tokens, " +
        "(doc_id * 2654435761) % 4294967296 AS h FROM documents), " +
        "c AS (SELECT doc_id, n_tokens, coalesce(sum(n_tokens) OVER " +
        "(ORDER BY h, doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS strt " +
        "FROM s) " +
        "SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, " +
        "CAST(strt // 512 AS BIGINT) AS seq_id, CAST(strt % 512 AS BIGINT) AS seq_offset " +
        "FROM c ORDER BY doc_id")),

    // Stratum-balancing mixture sampling: every language downsampled to
    // the smallest one's size by a portable-hash rate threshold — the
    // keep decision is per-row O(1) against a broadcast rate table (the
    // corpus never shuffles). en dominates this corpus ~3:1, so the
    // sampler visibly rebalances at every checked sf.
    Q("x_mixture_sample",
      (s, d) => graft.prep.Prep.balancedSample(
          Tables.documents(s, d).select(col("doc_id"), col("lang")),
          "doc_id", "lang")
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id"),
      Some("WITH n AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang), " +
        "m AS (SELECT min(n) AS mn FROM n), " +
        "r AS (SELECT lang, CAST(mn AS DOUBLE) / n AS rate FROM n CROSS JOIN m) " +
        "SELECT doc_id, lang FROM documents JOIN r USING (lang) " +
        "WHERE (doc_id * 2654435761) % 4294967296 < rate * 4294967296 " +
        "ORDER BY doc_id")),

    // Temperature-weighted (α = 0.5) mixture sampling toward a
    // 300-row target: the multilingual upweight-the-tail rule between
    // natural proportions (α = 1) and fully balanced (α = 0). Same
    // broadcast-rate zero-shuffle shape as x_mixture_sample; the oracle
    // re-derives the α arithmetic and the hash rule.
    Q("x_temperature_sample",
      (s, d) => graft.prep.Prep.temperatureSample(
          Tables.documents(s, d).select(col("doc_id"), col("lang")),
          "doc_id", "lang", alpha = 0.5, targetTotal = 300L)
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id"),
      Some("WITH n AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang), " +
        "z AS (SELECT sum(power(n, 0.5)) AS z FROM n), " +
        "r AS (SELECT lang, least(1.0, 300 * power(n, 0.5) / z / n) AS rate " +
        "FROM n CROSS JOIN z) " +
        "SELECT doc_id, lang FROM documents JOIN r USING (lang) " +
        "WHERE (doc_id * 2654435761) % 4294967296 < rate * 4294967296 " +
        "ORDER BY doc_id")),

    // Deterministic exact-10-per-language sample: the 10 smallest
    // (portableHash, id) rows per stratum. The engine runs the two-phase
    // rate-prefilter + bounded ranking window; the ORACLE ranks every
    // row globally per stratum — so the green hash also certifies the
    // prefilter preserved the true top-k.
    Q("x_stratified_sample",
      (s, d) => graft.prep.Prep.stratifiedTopK(
          Tables.documents(s, d).select(col("doc_id"), col("lang")),
          "doc_id", "lang", k = 10)
        .select(col("doc_id"), col("lang"), col("sample_rank").cast("long").as("sample_rank"))
        .orderBy("doc_id"),
      Some("WITH h AS (SELECT doc_id, lang, (doc_id * 2654435761) % 4294967296 AS h " +
        "FROM documents), " +
        "r AS (SELECT doc_id, lang, row_number() OVER (PARTITION BY lang " +
        "ORDER BY h, doc_id) AS rank FROM h) " +
        "SELECT doc_id, lang, CAST(rank AS BIGINT) AS sample_rank FROM r " +
        "WHERE rank <= 10 ORDER BY doc_id")),

    // Per-source document cap (the RefinedWeb-style per-domain rule:
    // keep at most k docs per source, best first — here longest, with
    // the id tie-break). The engine runs the two-level salted ranking
    // (no window sees a whole stratum); the ORACLE ranks every row per
    // source in one window — the green hash certifies the salted
    // decomposition is exact. Cap bites at every sf (25–250 docs per
    // source vs k = 10).
    Q("x_source_cap",
      (s, d) => graft.prep.Prep.groupTopK(
          Tables.documents(s, d).select(col("doc_id"), col("source"), col("n_chars")),
          "source", "doc_id", col("n_chars"), k = 10)
        .select(col("source"), col("doc_id"), col("n_chars"),
          col("group_rank").cast("long").as("group_rank"))
        .orderBy("source", "group_rank"),
      Some("WITH r AS (SELECT source, doc_id, n_chars, row_number() OVER " +
        "(PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rank FROM documents) " +
        "SELECT source, doc_id, n_chars, CAST(rank AS BIGINT) AS group_rank " +
        "FROM r WHERE rank <= 10 ORDER BY source, group_rank")),

    // Context-window chunking: overlapping 16-token chunks every 8
    // tokens, tails under 4 tokens dropped — one narrow Generate per
    // document, no shuffle. The oracle re-derives starts, slices, and
    // the tail rule; docs are 10–99 tokens so multi-chunk output and
    // dropped tails both occur at every sf.
    Q("x_doc_chunks",
      (s, d) => TextAnalysis.chunkDocuments(Tables.documents(s, d),
          "doc_id", "text", chunkLen = 16, stride = 8, minChunk = 4)
        .orderBy("doc_id", "chunk_id"),
      Some("WITH t AS (SELECT doc_id, string_split_regex(text, ' +') AS toks FROM documents), " +
        "s AS (SELECT doc_id, toks, unnest(generate_series(0, len(toks) - 1, 8)) AS st FROM t), " +
        "c AS (SELECT doc_id, CAST(st // 8 AS BIGINT) AS chunk_id, " +
        "CAST(st AS BIGINT) AS start_pos, toks[st + 1:st + 16] AS ch FROM s) " +
        "SELECT doc_id, chunk_id, start_pos, CAST(len(ch) AS BIGINT) AS n_tokens, " +
        "array_to_string(ch, ' ') AS chunk_text FROM c WHERE len(ch) >= 4 " +
        "ORDER BY doc_id, chunk_id")),

    // Collocation mining: every adjacent pair with count >= 30 (the
    // gate drops ~half the pair types at sf0.001/0.01), PMI from the
    // bigram table's own marginals. The oracle restates counts,
    // marginals, and the log — both engines round the one float to 6dp.
    Q("x_collocations",
      (s, d) => TextAnalysis.collocations(Tables.documents(s, d), "text",
          minCount = 30L)
        .select(col("left"), col("right"), col("pair_count"),
          round(col("pmi"), 6).as("pmi"))
        .orderBy("left", "right"),
      Some("WITH t AS (SELECT string_split_regex(text, ' +') AS ws FROM documents), " +
        "b AS (SELECT ws[p] AS l, ws[p + 1] AS r FROM " +
        "(SELECT ws, unnest(generate_series(1, len(ws) - 1)) AS p FROM t WHERE len(ws) >= 2)), " +
        "c2 AS (SELECT l, r, CAST(count(*) AS BIGINT) AS pair_count FROM b GROUP BY l, r), " +
        "cl AS (SELECT l, sum(pair_count) AS cl FROM c2 GROUP BY l), " +
        "cr AS (SELECT r, sum(pair_count) AS cr FROM c2 GROUP BY r), " +
        "n AS (SELECT sum(pair_count) AS n FROM c2) " +
        "SELECT c2.l AS \"left\", c2.r AS \"right\", c2.pair_count, " +
        "round(ln(c2.pair_count * n.n / CAST(cl.cl * cr.cr AS DOUBLE)), 6) AS pmi " +
        "FROM c2 JOIN cl ON c2.l = cl.l JOIN cr ON c2.r = cr.r CROSS JOIN n " +
        "WHERE c2.pair_count >= 30 ORDER BY \"left\", \"right\"")),

    // Winnowing fingerprints (MOSS): min-hash per 5-gram-hash window,
    // rightmost tie, distinct (pos, hash) per document. The hashes are
    // portable polynomials, so the ORACLE re-derives the entire
    // selection — char-code token hashes, 4-gram hashes, window minima,
    // and the tie rule — in plain SQL.
    Q("x_winnow_fingerprint",
      (s, d) => TextAnalysis.winnowFingerprints(Tables.documents(s, d),
          "doc_id", "text", k = 4, w = 5)
        .orderBy("doc_id", "pos", "gram_hash"),
      Some(WinnowOracleCtes +
        " SELECT doc_id, pos, h AS gram_hash FROM u2 " +
        "ORDER BY doc_id, pos, gram_hash")),

    // Winnowing near-dup CANDIDATES — the oracle-checkable counterpart
    // of x_minhash_lsh: docs sharing >= 2 selected fingerprints, stop
    // fingerprints (df > 64) dropped before pairing. 27/24/282 pairs at
    // sf0.001/0.01/0.1 — the gate and the pairing both bite everywhere.
    Q("x_winnow_pairs",
      (s, d) => Dedup.winnowCandidates(Tables.documents(s, d),
          "doc_id", "text", k = 4, w = 5)
        .orderBy("id1", "id2"),
      Some(WinnowOracleCtes + WinnowPairGateCtes +
        " SELECT id1, id2, n_shared FROM pr WHERE n_shared >= 2 ORDER BY id1, id2")),

    // The stored-index half of the winnowing lifecycle: every 5th doc is
    // the fingerprint HISTORY, the rest probe it as the new batch —
    // history is never re-fingerprinted at probe time in the operator
    // contract (here both sides compute inline, like x_dedup_incremental).
    // 11/13/99 pairs at sf0.001/0.01/0.1.
    Q("x_winnow_stored",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val hist = TextAnalysis.winnowFingerprints(
          docs.filter(col("doc_id") % 5 === 0), "doc_id", "text", k = 4, w = 5)
        Dedup.winnowCandidatesFromStored(
            docs.filter(col("doc_id") % 5 =!= 0), "doc_id", "text",
            hist, "doc_id", k = 4, w = 5)
          .orderBy("batch_id", "stored_id")
      },
      Some(WinnowOracleCtes + ", " +
        "hist AS (SELECT * FROM u WHERE doc_id % 5 = 0), " +
        "bat AS (SELECT * FROM u WHERE doc_id % 5 <> 0), " +
        "dfc AS (SELECT h FROM (SELECT h, count(*) AS df FROM hist GROUP BY h) WHERE df <= 64), " +
        "hg AS (SELECT hist.doc_id, hist.h FROM hist JOIN dfc ON hist.h = dfc.h), " +
        "pr AS (SELECT bat.doc_id AS batch_id, hg.doc_id AS stored_id, " +
        "CAST(count(*) AS BIGINT) AS n_shared FROM bat JOIN hg ON bat.h = hg.h GROUP BY 1, 2) " +
        "SELECT batch_id, stored_id, n_shared FROM pr WHERE n_shared >= 2 " +
        "ORDER BY batch_id, stored_id")),

    // Span attribution over the candidate pairs: every matched
    // fingerprint with its position in BOTH documents — the aligned
    // copy-report the fingerprint lane exists to produce. One
    // fingerprint pass feeds both the pair gate and the position join.
    Q("x_winnow_matches",
      (s, d) => Dedup.winnowMatches(Tables.documents(s, d),
          "doc_id", "text", k = 4, w = 5)
        .orderBy("id1", "id2", "pos1", "pos2"),
      Some(WinnowOracleCtes + WinnowPairGateCtes + ", " +
        // the stop-gram cap gates the POSITION join too, like the engine
        "u2g AS (SELECT u2.* FROM u2 JOIN dfc ON u2.h = dfc.h) " +
        "SELECT fa.doc_id AS id1, fb.doc_id AS id2, fa.pos AS pos1, fb.pos AS pos2, " +
        "fa.h AS gram_hash FROM u2g fa JOIN u2g fb ON fa.h = fb.h AND fa.doc_id < fb.doc_id " +
        "JOIN pq ON fa.doc_id = pq.id1 AND fb.doc_id = pq.id2 " +
        "ORDER BY id1, id2, pos1, pos2")),

    // Matched fingerprints merged into ALIGNED SPAN ranges per pair:
    // same-diagonal selections within the winnowing density bound (w)
    // collapse to one row with the copied region's token range in both
    // documents. The islands window partitions by (pair, diagonal).
    Q("x_winnow_spans",
      (s, d) => Dedup.winnowSpans(Tables.documents(s, d),
          "doc_id", "text", k = 4, w = 5)
        .orderBy("id1", "id2", "start1", "start2"),
      Some(WinnowOracleCtes + WinnowPairGateCtes + ", " +
        "u2g AS (SELECT u2.* FROM u2 JOIN dfc ON u2.h = dfc.h), " +
        "mm AS (SELECT fa.doc_id AS id1, fb.doc_id AS id2, fa.pos AS pos1, " +
        "fa.pos - fb.pos AS diag FROM u2g fa " +
        "JOIN u2g fb ON fa.h = fb.h AND fa.doc_id < fb.doc_id " +
        "JOIN pq ON fa.doc_id = pq.id1 AND fb.doc_id = pq.id2), " +
        "fl AS (SELECT *, CASE WHEN pos1 - lag(pos1) OVER " +
        "(PARTITION BY id1, id2, diag ORDER BY pos1) > 5 THEN 1 ELSE 0 END AS ni FROM mm), " +
        "il AS (SELECT *, sum(ni) OVER (PARTITION BY id1, id2, diag ORDER BY pos1 " +
        "ROWS UNBOUNDED PRECEDING) AS isl FROM fl) " +
        "SELECT id1, id2, CAST(min(pos1) AS BIGINT) AS start1, " +
        "CAST(max(pos1) + 4 AS BIGINT) AS end1, " +
        "CAST(min(pos1) - diag AS BIGINT) AS start2, " +
        "CAST(max(pos1) + 4 - diag AS BIGINT) AS end2, " +
        "CAST(count(*) AS BIGINT) AS n_fingerprints " +
        "FROM il GROUP BY id1, id2, diag, isl ORDER BY id1, id2, start1, start2")),

    // The END-TO-END fuzzy-dedup corpus build, every stage
    // oracle-checked in ONE query: winnow candidates → exact 3-gram
    // Jaccard verification on candidates only → transitive clusters →
    // quality-canonical selection → drop non-canonical members. The
    // MinHash funnel can never be hash-checked end to end (xxhash
    // seeding); the portable winnow lane makes the WHOLE near-dup
    // lifecycle one oracle row. Verification bites at sf0.1 (282
    // candidates → 250 verified pairs) and clustering merges pairs:
    // 23/23/239 docs drop at sf0.001/0.01/0.1.
    Q("x_winnow_dedup_corpus",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val cand = Dedup.winnowCandidates(docs, "doc_id", "text", k = 4, w = 5)
        val verified = Dedup.jaccardVerify(
            cand.select("id1", "id2"), docs, "doc_id", "text", shingleLen = 3)
          .filter(col("jaccard") >= 0.5)
        val clusters = Dedup.duplicateClusters(verified.select("id1", "id2"))
        val canon = Dedup.canonicalPerCluster(clusters, "id", "cluster",
          docs, "doc_id", "n_chars")
        val dropped = clusters
          .join(canon.select(col("cluster"), col("canonical_id")), "cluster")
          .filter(col("id") =!= col("canonical_id"))
          .select(col("id").as("doc_id"))
        docs.join(dropped, Seq("doc_id"), "left_anti")
          .select("doc_id").orderBy("doc_id")
      },
      // WITH RECURSIVE for the closure leg; the shared prefix is WITH-led
      Some(WinnowOracleCtes.replaceFirst("WITH ", "WITH RECURSIVE ") +
        WinnowPairGateCtes + ", " +
        "sh AS (SELECT doc_id, list_distinct(list_transform(" +
        "generate_series(1, len(ws) - 2), p -> array_to_string(ws[p:p + 2], ' '))) AS s3 " +
        "FROM t WHERE len(ws) >= 3), " +
        "vp AS (SELECT id1, id2 FROM pq JOIN sh a ON pq.id1 = a.doc_id " +
        "JOIN sh b ON pq.id2 = b.doc_id " +
        "WHERE CAST(len(list_intersect(a.s3, b.s3)) AS DOUBLE) / " +
        "len(list_distinct(list_concat(a.s3, b.s3))) >= 0.5), " +
        "e AS (SELECT id1 AS a, id2 AS b FROM vp UNION SELECT id2, id1 FROM vp), " +
        "r AS (SELECT a AS id, a AS lab FROM e " +
        "UNION SELECT e.a, r.lab FROM e JOIN r ON r.id = e.b), " +
        "cl AS (SELECT id, min(lab) AS cluster FROM r GROUP BY id), " +
        "cq AS (SELECT cl.cluster, cl.id, dd.n_chars FROM cl " +
        "LEFT JOIN documents dd ON cl.id = dd.doc_id), " +
        "rk AS (SELECT cluster, id, row_number() OVER " +
        "(PARTITION BY cluster ORDER BY n_chars DESC NULLS LAST, id) AS rn FROM cq) " +
        "SELECT doc_id FROM documents " +
        "WHERE doc_id NOT IN (SELECT id FROM rk WHERE rn > 1) ORDER BY doc_id")),

    // The winnow spans applied as a SCRUB: each aligned shared-span
    // range is removed from the higher-id document of its pair
    // (keep-first-occurrence), survivors rejoined in order — the fuzzy
    // counterpart of x_dup_span_scrub, oracle-checked through fingerprint
    // → pair gate → diagonal islands → span ranges → reconstruction.
    Q("x_winnow_scrub",
      (s, d) => Dedup.winnowScrub(Tables.documents(s, d), "doc_id", "text",
          k = 4, w = 5)
        .orderBy("doc_id"),
      Some(WinnowOracleCtes + WinnowPairGateCtes + ", " +
        "u2g AS (SELECT u2.* FROM u2 JOIN dfc ON u2.h = dfc.h), " +
        "mm AS (SELECT fa.doc_id AS id1, fb.doc_id AS id2, fa.pos AS pos1, " +
        "fa.pos - fb.pos AS diag FROM u2g fa " +
        "JOIN u2g fb ON fa.h = fb.h AND fa.doc_id < fb.doc_id " +
        "JOIN pq ON fa.doc_id = pq.id1 AND fb.doc_id = pq.id2), " +
        "fl AS (SELECT *, CASE WHEN pos1 - lag(pos1) OVER " +
        "(PARTITION BY id1, id2, diag ORDER BY pos1) > 5 THEN 1 ELSE 0 END AS ni FROM mm), " +
        "il AS (SELECT *, sum(ni) OVER (PARTITION BY id1, id2, diag ORDER BY pos1 " +
        "ROWS UNBOUNDED PRECEDING) AS isl FROM fl), " +
        "sp AS (SELECT id2, min(pos1) - diag AS s2, max(pos1) + 4 - diag AS e2 " +
        "FROM il GROUP BY id1, id2, diag, isl), " +
        "cov AS (SELECT DISTINCT doc_id, tp FROM " +
        "(SELECT id2 AS doc_id, unnest(generate_series(s2, e2 - 1)) AS tp FROM sp)), " +
        "tok AS (SELECT doc_id, unnest(ws) AS wd, " +
        "unnest(generate_series(0, len(ws) - 1)) AS p FROM t), " +
        "kept AS (SELECT tok.doc_id, tok.p, tok.wd FROM tok LEFT JOIN cov " +
        "ON tok.doc_id = cov.doc_id AND tok.p = cov.tp WHERE cov.tp IS NULL), " +
        "r AS (SELECT doc_id, count(*) AS nk, string_agg(wd, ' ' ORDER BY p) AS txt " +
        "FROM kept GROUP BY doc_id) " +
        "SELECT t.doc_id, CAST(len(t.ws) AS BIGINT) AS n_tokens, " +
        "CAST(len(t.ws) - coalesce(r.nk, 0) AS BIGINT) AS n_dropped, " +
        "coalesce(r.txt, '') AS clean_text " +
        "FROM t LEFT JOIN r USING (doc_id) ORDER BY t.doc_id")),

    // Gopher intra-doc repetition: duplicate 3-gram fraction per doc —
    // a zero-shuffle narrow projection (array_distinct on hashed grams;
    // oracle counts string grams, the usual collision-free identity).
    Q("x_dup_ngrams",
      (s, d) => TextAnalysis.dupNgramStats(Tables.documents(s, d), "doc_id", "text", n = 3)
        .orderBy("doc_id"),
      Some("WITH t AS (SELECT doc_id, string_split_regex(text, ' +') AS toks FROM documents), " +
        "e AS (SELECT doc_id, array_to_string(toks[p:p+2], ' ') AS g FROM " +
        "(SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 2)) AS p FROM t " +
        "WHERE len(toks) >= 3)), " +
        "a AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_ngrams, " +
        "CAST(count(DISTINCT g) AS BIGINT) AS n_distinct FROM e GROUP BY doc_id) " +
        "SELECT d.doc_id, coalesce(n_ngrams, 0) AS n_ngrams, " +
        "coalesce(n_distinct, 0) AS n_distinct, " +
        "CASE WHEN coalesce(n_ngrams, 0) > 0 " +
        "THEN round(1.0 - CAST(n_distinct AS DOUBLE) / n_ngrams, 6) ELSE 0.0 END AS dup_frac " +
        "FROM (SELECT doc_id FROM documents) d LEFT JOIN a USING (doc_id) ORDER BY d.doc_id")),

    // Quality FILTER decision over the signals: keep flag + first failing
    // rule per document (~60/40 keep/drop split on this corpus, so both
    // branches are exercised at every checked sf).
    Q("x_quality_filter",
      (s, d) => TextAnalysis.qualityFilter(Tables.documents(s, d), "text")
        .select(col("doc_id"), col("keep"), col("reason"))
        .orderBy("doc_id"),
      Some(s"WITH $QualitySignalsCte, " +
        s"f AS (SELECT doc_id, $QualityReasonSql AS reason FROM s) " +
        "SELECT doc_id, reason IS NULL AS keep, reason FROM f ORDER BY doc_id")),

    // Language ID by marker-lexicon voting; output = confusion counts
    // against the table's labeled lang.
    Q("x_lang_id",
      (s, d) => TextAnalysis.languageId(Tables.documents(s, d), "text")
        .groupBy("lang", "lang_pred").agg(count(lit(1)).as("cnt"))
        .orderBy("lang", "lang_pred"),
      Some("WITH t AS (SELECT doc_id, lang, string_split_regex(text, ' +') AS toks FROM documents), " +
        "s AS (SELECT doc_id, lang, " +
        "len(list_filter(toks, x -> x IN ('der','die','das','und','ist','nicht','ein','mit'))) AS s_de, " +
        "len(list_filter(toks, x -> x IN ('the','and','is','of','to','in','that','it'))) AS s_en, " +
        "len(list_filter(toks, x -> x IN ('el','la','de','que','y','los','en','un'))) AS s_es, " +
        "len(list_filter(toks, x -> x IN ('le','la','et','les','des','est','un','une'))) AS s_fr, " +
        "len(list_filter(toks, x -> x IN ('的','是','了','在','我','有','和','不'))) AS s_zh FROM t), " +
        "lng AS (SELECT doc_id, lang, unnest([s_de, s_en, s_es, s_fr, s_zh]) AS sc, " +
        "unnest(['de','en','es','fr','zh']) AS lg FROM s), " +
        "p AS (SELECT doc_id, lang, first(lg ORDER BY sc DESC, lg ASC) AS lang_pred " +
        "FROM lng GROUP BY doc_id, lang) " +
        "SELECT lang, lang_pred, CAST(count(*) AS BIGINT) AS cnt FROM p " +
        "GROUP BY lang, lang_pred ORDER BY lang, lang_pred")),

    // PII redaction: emails / IPv4 / phone-shaped numbers → typed tags +
    // per-doc match counts. The corpus has no organic PII, so both
    // engines append the SAME deterministic doc_id-derived contacts to a
    // rotating subset of rows (%3 email, %4 ip, %5 phone) — the checked
    // result has redacted and untouched rows at every sf, and the
    // patterns are the Java/RE2-portable set from TextAnalysis.
    Q("x_pii_redact",
      (s, d) => {
        val aug = concat(col("text"),
          when(col("doc_id") % 3 === 0,
            concat(lit(" reach user"), col("doc_id").cast("string"),
              lit("@mail.example"))).otherwise(lit("")),
          when(col("doc_id") % 4 === 0,
            concat(lit(" from 10.0."), (col("doc_id") % 256).cast("string"),
              lit(".7"))).otherwise(lit("")),
          when(col("doc_id") % 5 === 0,
            concat(lit(" call 555-"), (col("doc_id") % 900 + 100).cast("string"),
              lit("-"), (col("doc_id") % 9000 + 1000).cast("string"))).otherwise(lit("")))
        TextAnalysis.redactPii(
            Tables.documents(s, d).withColumn("text", aug), "text")
          .select(col("doc_id"), col("n_emails").cast("long").as("n_emails"),
            col("n_ips").cast("long").as("n_ips"),
            col("n_phones").cast("long").as("n_phones"), col("redacted"))
          .orderBy("doc_id")
      },
      Some("WITH a AS (SELECT doc_id, text || " +
        "CASE WHEN doc_id % 3 = 0 THEN ' reach user' || doc_id || '@mail.example' ELSE '' END || " +
        "CASE WHEN doc_id % 4 = 0 THEN ' from 10.0.' || (doc_id % 256) || '.7' ELSE '' END || " +
        "CASE WHEN doc_id % 5 = 0 THEN ' call 555-' || (doc_id % 900 + 100) || '-' || " +
        "(doc_id % 9000 + 1000) ELSE '' END AS t FROM documents) " +
        "SELECT doc_id, " +
        s"CAST(len(regexp_extract_all(t, '${TextAnalysis.EmailRe}')) AS BIGINT) AS n_emails, " +
        s"CAST(len(regexp_extract_all(t, '${TextAnalysis.Ipv4Re}')) AS BIGINT) AS n_ips, " +
        s"CAST(len(regexp_extract_all(t, '${TextAnalysis.PhoneRe}')) AS BIGINT) AS n_phones, " +
        s"regexp_replace(regexp_replace(regexp_replace(t, '${TextAnalysis.EmailRe}', '<EMAIL>', 'g'), " +
        s"'${TextAnalysis.Ipv4Re}', '<IP>', 'g'), '${TextAnalysis.PhoneRe}', '<PHONE>', 'g') AS redacted " +
        "FROM a ORDER BY doc_id")),

    // TF-IDF top-3 terms per document — tf over the doc, ln(N/df) idf
    // over the corpus, token-ascending tie break.
    Q("x_tfidf_topk",
      (s, d) => TextAnalysis.tfidfTopK(Tables.documents(s, d), "doc_id", "text", 3)
        .select(col("doc_id"), col("token"), col("tf").cast("long").as("tf"),
          col("rank").cast("long").as("rank"), round(col("tfidf"), 6).as("tfidf"))
        .orderBy("doc_id", "rank"),
      Some("WITH tok AS (SELECT doc_id, unnest(string_split_regex(text, ' +')) AS token " +
        "FROM documents), " +
        "tf AS (SELECT doc_id, token, count(*) AS tf FROM tok WHERE length(token) > 0 " +
        "GROUP BY doc_id, token), " +
        "dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY token), " +
        "n AS (SELECT count(*) AS n FROM documents), " +
        "sc AS (SELECT doc_id, token, tf, tf * ln(CAST(n.n AS DOUBLE) / df) AS tfidf " +
        "FROM tf JOIN dfreq USING (token) CROSS JOIN n), " +
        "r AS (SELECT *, row_number() OVER (PARTITION BY doc_id " +
        "ORDER BY tfidf DESC, token) AS rank FROM sc) " +
        "SELECT doc_id, token, CAST(tf AS BIGINT) AS tf, CAST(rank AS BIGINT) AS rank, " +
        "round(tfidf, 6) AS tfidf FROM r WHERE rank <= 3 ORDER BY doc_id, rank")),

    // Exact interpolated percentiles of the event metric per type (the
    // quantile surface). Exact `percentile` buffers each group's values
    // — correct and deterministic, and per-group parallel; the 100 TB
    // path is approx_percentile (pinned within tolerance of exact in
    // EvalFunctionsSpec), which this oracle can't hash-check (sketch
    // internals differ by engine).
    Q("x_percentiles",
      (s, d) => Tables.events(s, d).groupBy("event_type").agg(
          round(expr("percentile(value, 0.5D)"), 6).as("p50"),
          round(expr("percentile(value, 0.9D)"), 6).as("p90"),
          round(expr("percentile(value, 0.99D)"), 6).as("p99"))
        .orderBy("event_type"),
      Some("SELECT event_type, round(quantile_cont(value, 0.5), 6) AS p50, " +
        "round(quantile_cont(value, 0.9), 6) AS p90, " +
        "round(quantile_cont(value, 0.99), 6) AS p99 " +
        "FROM events GROUP BY event_type ORDER BY event_type")),

    // Brute-force cosine top-k against the vec_id=0 embedding (exact ANN
    // baseline; distributed TakeOrdered, no full sort).
    Q("x_ann_bruteforce",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val q = queryVec(s, d)
        Similarity.bruteForceTopK(emb.filter(col("vec_id") > 0), "vec_id", "embedding", q, 20)
          .select(col("vec_id"), round(col("cos"), 6).as("cos"))
      },
      Some(BruteForceTopKSql)),

    // Embedding-cosine near-duplicate pairs (exact verification shape).
    // Threshold 0.3 sits inside this corpus's similarity range (max
    // pairwise cos within the id slice ≈ 0.47), so the oracle-checked
    // result is NON-EMPTY (~350 pairs) at every checked sf — a 0-row
    // green would prove nothing about the cosine math.
    Q("x_cosine_near_dup",
      (s, d) => Similarity.cosineNearDuplicates(
          Tables.embeddings(s, d).filter(col("vec_id") < 300), "vec_id", "embedding", 0.3)
        .select(col("id1"), col("id2"), round(col("cos"), 6).as("cos"))
        .orderBy("id1", "id2"),
      Some("WITH d AS (SELECT a.vec_id AS id1, b.vec_id AS id2, unnest(a.embedding) AS x, " +
        "unnest(b.embedding) AS y FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id " +
        "WHERE a.vec_id < 300 AND b.vec_id < 300), " +
        "sm AS (SELECT id1, id2, sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dt, " +
        "sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS nx, " +
        "sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) AS ny FROM d GROUP BY id1, id2) " +
        "SELECT id1, id2, round(dt / (sqrt(nx) * sqrt(ny)), 6) AS cos FROM sm " +
        "WHERE dt / (sqrt(nx) * sqrt(ny)) > 0.3 ORDER BY id1, id2")),

    // Gap-based sessionization over the event stream: running count of
    // gaps > 600 s splits the stream into episodes; output = per-session
    // size + start id. Composes the scale decompositions (chunk+halo lag,
    // two-phase cumsum) — no global window in the plan.
    Q("x_sessionize",
      (s, d) => graft.window.Windows.sessionize(
          Tables.events(s, d), "event_id", "ts_sec", gap = 600)
        .groupBy("session")
        .agg(count(lit(1)).as("n_events"), min(col("event_id")).as("start_id"))
        .orderBy("session"),
      Some("WITH t AS (SELECT event_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec FROM events), " +
        "g AS (SELECT event_id, CASE WHEN ts_sec - lag(ts_sec) OVER (ORDER BY event_id) > 600 " +
        "THEN 1 ELSE 0 END AS nw FROM t), " +
        "s AS (SELECT event_id, sum(nw) OVER (ORDER BY event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session FROM g) " +
        "SELECT CAST(session AS BIGINT) AS session, CAST(count(*) AS BIGINT) AS n_events, " +
        "min(event_id) AS start_id FROM s GROUP BY session ORDER BY session")),

    // Retention cohort matrix at day granularity (the corpus spans ~30
    // days with visible decay at every sf); DIV-truncation bucketing
    // matches floor(epoch) on the oracle side.
    Q("x_retention_cohorts",
      (s, d) => graft.window.Windows.retentionCohorts(
          Tables.events(s, d), "user_id", "ts_sec", bucket = 86400L)
        .orderBy("cohort_start", "age"),
      Some("WITH e AS (SELECT user_id, " +
        "CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS d FROM events), " +
        "f AS (SELECT user_id, min(d) AS cohort FROM e GROUP BY user_id), " +
        "a AS (SELECT DISTINCT e.user_id, f.cohort, e.d - f.cohort AS age " +
        "FROM e JOIN f USING (user_id)), " +
        "m AS (SELECT cohort AS cohort_start, age, CAST(count(*) AS BIGINT) AS n_users " +
        "FROM a GROUP BY 1, 2), " +
        "c0 AS (SELECT cohort_start, n_users AS base FROM m WHERE age = 0) " +
        "SELECT m.cohort_start, m.age, m.n_users, " +
        "round(m.n_users / CAST(c0.base AS DOUBLE), 6) AS frac " +
        "FROM m JOIN c0 USING (cohort_start) ORDER BY cohort_start, age")),

    // Ordered conversion funnel view -> click -> purchase with a 1-day
    // horizon (picked so every sf shows real attrition: 15/6/3 at
    // sf0.001). Micros granularity on both engines (ts DIV 1000 ≡
    // epoch_us). The oracle chains the same strictly-after,
    // within-horizon min-joins.
    Q("x_conversion_funnel",
      (s, d) => graft.window.Windows.conversionFunnel(
          Tables.events(s, d), "user_id", "ts_micro", "event_type",
          Seq("view", "click", "purchase"), horizon = Some(86400000000L))
        .orderBy("step"),
      Some("WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tu FROM events), " +
        "s1 AS (SELECT user_id, min(tu) AS t FROM e WHERE event_type = 'view' " +
        "GROUP BY user_id), " +
        "s2 AS (SELECT e.user_id, min(tu) AS t FROM e JOIN s1 ON e.user_id = s1.user_id " +
        "AND e.tu > s1.t AND e.tu <= s1.t + CAST(86400 AS BIGINT) * 1000000 " +
        "WHERE event_type = 'click' GROUP BY e.user_id), " +
        "s3 AS (SELECT e.user_id, min(tu) AS t FROM e JOIN s2 ON e.user_id = s2.user_id " +
        "AND e.tu > s2.t AND e.tu <= s2.t + CAST(86400 AS BIGINT) * 1000000 " +
        "WHERE event_type = 'purchase' GROUP BY e.user_id) " +
        "SELECT 1 AS step, 'view' AS event_type, " +
        "(SELECT CAST(count(*) AS BIGINT) FROM s1) AS n_users " +
        "UNION ALL SELECT 2, 'click', (SELECT CAST(count(*) AS BIGINT) FROM s2) " +
        "UNION ALL SELECT 3, 'purchase', (SELECT CAST(count(*) AS BIGINT) FROM s3) " +
        "ORDER BY step")),

    // Transitive dedup clustering: connected components over the verified
    // near-dup pairs — every member labeled with its component's minimum
    // id ("keep one survivor per duplicate CLUSTER", the step after
    // pairwise verification). Oracle = recursive-CTE reachability closure
    // over the same exact-cosine pairs.
    Q("x_dedup_clusters",
      (s, d) => clustersFor(s, d)
        .select(col("id").as("vec_id"), col("cluster"))
        .orderBy("vec_id"),
      Some("WITH RECURSIVE " +
        "d AS (SELECT a.vec_id AS id1, b.vec_id AS id2, unnest(a.embedding) AS x, " +
        "unnest(b.embedding) AS y FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id " +
        "WHERE a.vec_id < 300 AND b.vec_id < 300), " +
        "sm AS (SELECT id1, id2, sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dt, " +
        "sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS nx, " +
        "sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) AS ny FROM d GROUP BY id1, id2), " +
        "p AS (SELECT id1, id2 FROM sm WHERE dt / (sqrt(nx) * sqrt(ny)) > 0.3), " +
        "e AS (SELECT id1 AS a, id2 AS b FROM p UNION SELECT id2, id1 FROM p), " +
        "r AS (SELECT a AS id, a AS lab FROM e " +
        "UNION SELECT e.a, r.lab FROM e JOIN r ON r.id = e.b) " +
        "SELECT id AS vec_id, CAST(min(lab) AS BIGINT) AS cluster FROM r " +
        "GROUP BY id ORDER BY vec_id")),

    // Quality-aware canonical selection over the duplicate clusters:
    // per cluster, keep the member with the most characters (tie ->
    // lowest id) — the survivor policy after clustering. Reuses the
    // cluster memo; oracle = the recursive-CTE closure + a ranking
    // window over the joined quality column.
    Q("x_canonical_selection",
      (s, d) => Dedup.canonicalPerCluster(
          clustersFor(s, d), "id", "cluster",
          Tables.documents(s, d), "doc_id", "n_chars")
        .orderBy("cluster"),
      Some("WITH RECURSIVE " +
        "d AS (SELECT a.vec_id AS id1, b.vec_id AS id2, unnest(a.embedding) AS x, " +
        "unnest(b.embedding) AS y FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id " +
        "WHERE a.vec_id < 300 AND b.vec_id < 300), " +
        "sm AS (SELECT id1, id2, sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dt, " +
        "sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS nx, " +
        "sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) AS ny FROM d GROUP BY id1, id2), " +
        "p AS (SELECT id1, id2 FROM sm WHERE dt / (sqrt(nx) * sqrt(ny)) > 0.3), " +
        "e AS (SELECT id1 AS a, id2 AS b FROM p UNION SELECT id2, id1 FROM p), " +
        "r AS (SELECT a AS id, a AS lab FROM e " +
        "UNION SELECT e.a, r.lab FROM e JOIN r ON r.id = e.b), " +
        "cl AS (SELECT id, min(lab) AS cluster FROM r GROUP BY id), " +
        "q AS (SELECT cl.cluster, cl.id, dd.n_chars FROM cl " +
        "LEFT JOIN documents dd ON cl.id = dd.doc_id), " +
        "w AS (SELECT cluster, id, row_number() OVER " +
        "(PARTITION BY cluster ORDER BY n_chars DESC NULLS LAST, id) AS rn, " +
        "count(*) OVER (PARTITION BY cluster) AS members FROM q) " +
        "SELECT CAST(cluster AS BIGINT) AS cluster, id AS canonical_id, " +
        "CAST(members AS BIGINT) AS members FROM w WHERE rn = 1 ORDER BY cluster")),

    // The APPLY step after clustering + canonical selection: drop every
    // cluster member that is not its cluster's canonical, keep
    // everything else — the end-of-pipeline corpus materialization.
    // Same cluster memo and survivor policy as x_canonical_selection;
    // the oracle restates closure, ranking, and the anti join as
    // counts.
    Q("x_canonical_corpus",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val clusters = clustersFor(s, d)
        val canon = Dedup.canonicalPerCluster(clusters, "id", "cluster",
          docs, "doc_id", "n_chars")
        val dropped = clusters
          .join(canon.select(col("cluster"), col("canonical_id")), "cluster")
          .filter(col("id") =!= col("canonical_id"))
          .select(col("id").as("doc_id"))
        val kept = docs.join(dropped, Seq("doc_id"), "left_anti")
        docs.agg(count(lit(1)).as("n_input"))
          .crossJoin(broadcast(clusters.agg(count(lit(1)).as("n_clustered"))))
          .crossJoin(broadcast(dropped.agg(count(lit(1)).as("n_dropped"))))
          .crossJoin(broadcast(kept.agg(count(lit(1)).as("n_kept"))))
      },
      Some("WITH RECURSIVE " +
        "d AS (SELECT a.vec_id AS id1, b.vec_id AS id2, unnest(a.embedding) AS x, " +
        "unnest(b.embedding) AS y FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id " +
        "WHERE a.vec_id < 300 AND b.vec_id < 300), " +
        "sm AS (SELECT id1, id2, sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dt, " +
        "sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS nx, " +
        "sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) AS ny FROM d GROUP BY id1, id2), " +
        "p AS (SELECT id1, id2 FROM sm WHERE dt / (sqrt(nx) * sqrt(ny)) > 0.3), " +
        "e AS (SELECT id1 AS a, id2 AS b FROM p UNION SELECT id2, id1 FROM p), " +
        "r AS (SELECT a AS id, a AS lab FROM e " +
        "UNION SELECT e.a, r.lab FROM e JOIN r ON r.id = e.b), " +
        "cl AS (SELECT id, min(lab) AS cluster FROM r GROUP BY id), " +
        "q AS (SELECT cl.cluster, cl.id, dd.n_chars FROM cl " +
        "LEFT JOIN documents dd ON cl.id = dd.doc_id), " +
        "w AS (SELECT cluster, id, row_number() OVER " +
        "(PARTITION BY cluster ORDER BY n_chars DESC NULLS LAST, id) AS rn FROM q) " +
        "SELECT (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_input, " +
        "(SELECT CAST(count(*) AS BIGINT) FROM cl) AS n_clustered, " +
        "(SELECT CAST(count(*) AS BIGINT) FROM w WHERE rn > 1) AS n_dropped, " +
        "(SELECT CAST(count(*) AS BIGINT) FROM documents) - " +
        "(SELECT CAST(count(*) AS BIGINT) FROM w WHERE rn > 1) AS n_kept")),

    // A5 — elementwise mean of vectors per group (the FedAvg aggregation
    // shape, demonstrated on the embeddings table; first 8 dims).
    Q("a5_weight_average",
      (s, d) => {
        val dims = (1 to 8).map(i =>
          round(avg(element_at(col("embedding").cast("array<double>"), i)), 6).as(s"dim$i"))
        Tables.embeddings(s, d).groupBy("label")
          .agg(dims.head, dims.tail: _*)
          .orderBy("label")
      },
      Some("SELECT label, " + (1 to 8).map(i =>
        s"round(avg(CAST(embedding[$i] AS DOUBLE)), 6) AS dim$i").mkString(", ") +
        " FROM embeddings GROUP BY label ORDER BY label")),

    // BPE-ish subword count — regex pre-tokenizer shape. The lookaround
    // split isn't RE2-expressible, but its COUNT is: every non-alnum char
    // is its own piece and every maximal alnum run is one piece, so
    // n_subwords = #alnum-runs + #non-alnum-chars — the oracle states
    // that identity.
    Q("x_subword_count",
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"), TextAnalysis.subwordCount(col("text")).cast("long").as("n_subwords"))
        .orderBy("doc_id"),
      Some("SELECT doc_id, CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) + " +
        "length(text) - length(regexp_replace(text, '[^A-Za-z0-9]', '', 'g')) AS BIGINT) " +
        "AS n_subwords FROM documents ORDER BY doc_id")),

    // MinHash+LSH candidate pairs — engine-hash dependent: rows-only check.
    Q("x_minhash_lsh",
      (s, d) => Dedup.minhashCandidates(Tables.documents(s, d), "doc_id", "text")
        .orderBy("id1", "id2"),
      None),

    // MinHash-LSH oracle twin — the full candidate pipeline (shingle
    // fold → 16 per-lane min-hashes → 8×2 banding → band-equality join →
    // id1<id2 distinct) with every hash a splitmix64 chain DuckDB
    // regenerates (six mix chains: token, three shingle-fold steps, lane
    // constants, lane hashes). Same structure and shuffle shape as the
    // production xxhash64 row above, which stays rows-only (closure
    // table); recall vs exact Jaccard is pinned by x_minhash_recall.
    Q("x_minhash_lsh_splitmix",
      (s, d) => Dedup.minhashCandidatesSplitmix(Tables.documents(s, d), "doc_id", "text")
        .orderBy("id1", "id2"),
      Some(MinhashSplitmixOracle)),

    // Exact-duplicate vector collapse (the r12 ×100 stress finding: the
    // ANN occupancy rule needs dup-mass collapsed first — identical
    // vectors co-bucket under any plane count). Grouping is on the raw
    // vector VALUE on both sides (no hash), so the row is fully
    // oracle-checkable; summary shape keeps it non-vacuous on the
    // duplicate-free driver corpora (n_reps == n_rows there) and
    // load-bearing on replicated ones.
    Q("x_collapse_exact_vectors",
      (s, d) => {
        val (reps, _) = Similarity.collapseExactVectors(
          Tables.embeddings(s, d), "vec_id", "embedding")
        reps.agg(count(lit(1)).as("n_reps"),
          max(col("dup_count")).as("max_dup"),
          sum(col("dup_count")).as("n_rows"))
      },
      Some("SELECT CAST(count(*) AS BIGINT) AS n_reps, " +
        "CAST(max(c) AS BIGINT) AS max_dup, CAST(sum(c) AS BIGINT) AS n_rows " +
        "FROM (SELECT count(*) AS c FROM embeddings " +
        "WHERE embedding IS NOT NULL GROUP BY embedding)")),

    // SimHash near-dup candidates — rows-only check.
    Q("x_simhash",
      (s, d) => Dedup.simhashCandidates(Tables.documents(s, d), "doc_id", "text")
        .orderBy("id1", "id2"),
      None),

    // SimHash oracle twin — the ENTIRE SimHash kernel (64 per-bit vote
    // sums → sign-bit signature assembly → 4×16-bit banding → band-equal
    // candidate join → Hamming matching_bits) under the driver's hash
    // gate, with the one unrestatable piece swapped: token hash =
    // splitmix64(restatable 52-bit char/length key) instead of xxhash64
    // (the x_ann_lsh hyperplane-oracle trick — DuckDB restates splitmix64
    // in HUGEINT mod-2^64 arithmetic). Same code path as the production
    // x_simhash row via the simhashCandidates tokenHash parameter; the
    // production row stays rows-only (see the COVERAGE.md closure table).
    Q("x_simhash_splitmix",
      (s, d) => Dedup.simhashCandidates(Tables.documents(s, d), "doc_id", "text",
          tokenHash = t => GraftFunctions.splitmix64(Dedup.restatableTokenKey(t)))
        .orderBy("id1", "id2"),
      Some(SimhashSplitmixOracle)),

    // The ingest-time WRITE of the stored gram-pair index, priced as its
    // own bench row (the x_ann_ivf_build precedent): the first query to
    // touch [[gramTableFor]] pays ngramPairs + the bucketed write, and
    // before this row existed that was x_jaccard_verify — so the bench
    // charged the build to the verification stage it exists to isolate.
    // Queries run in registry order, so this row runs (and builds)
    // first; the verify rows below then price pure verification. The
    // count is oracle-checkable via the hashed≡string gram identity.
    Q("x_gram_index_build",
      (s, d) => s.table(gramTableFor(s, d))
        .agg(count(lit(1)).as("n_gram_rows")),
      Some("WITH t AS (SELECT doc_id, string_split_regex(text, ' +') AS toks FROM documents) " +
        "SELECT CAST(count(*) AS BIGINT) AS n_gram_rows FROM " +
        "(SELECT DISTINCT doc_id, array_to_string(toks[p:p+2], ' ') AS g FROM " +
        "(SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 2)) AS p " +
        "FROM t WHERE len(toks) >= 3))")),

    // n-gram Jaccard verification over LSH candidates. Candidates are
    // memoized ([[minhashCandsFor]]) so this times verification alone,
    // and it verifies from the STORED gram-pair table ([[gramTableFor]] —
    // built and priced by x_gram_index_build above, the 100 TB default
    // where text is never re-shingled); the no-index text-scan fallback
    // stays covered by x_jaccard_fallback below.
    //
    // Oracle-checked since r11: the output is the DEDUP DECISION — pairs
    // verified at jaccard >= 0.5 — which equals the hash-free truth set
    // (every >= 0.5 pair, via the gram-join [[JaccardTruthCtes]])
    // exactly when the MinHash candidate stage misses no >= 0.5 pair.
    // That recall property is real on this corpus with a wide margin
    // (every true near-dup pair sits at jaccard >= 0.8, where the 8x2
    // banding miss probability is < 1e-3 per pair; measured 0 misses at
    // every sf), and a future miss turns this row RED rather than
    // passing silently — the check the r10 verdict asked for. Jaccard
    // values themselves cross-check (hashed-shingle-set Jaccard equals
    // string-3-gram Jaccard modulo ~2^-64 collisions).
    Q("x_jaccard_verify",
      (s, d) => Dedup.jaccardVerify(minhashCandsFor(s, d), Tables.documents(s, d),
          "doc_id", "text", gramRows = Some(s.table(gramTableFor(s, d))))
        .filter(col("jaccard") >= 0.5)
        .select(col("id1"), col("id2"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("id1", "id2"),
      Some(JaccardTruthCtes + " SELECT id1, id2, round(jac, 6) AS jaccard " +
        "FROM j WHERE jac >= 0.5 ORDER BY id1, id2")),

    // The text-scan fallback of the same verification (no gram table):
    // restricted to a deterministic slice of the memoized candidates so
    // the bench keeps pricing the no-index path without re-paying the
    // full corpus shingle build each sweep. Same >= 0.5 decision output
    // and truth-set oracle as x_jaccard_verify, restricted to the slice.
    Q("x_jaccard_fallback",
      (s, d) => Dedup.jaccardVerify(
          minhashCandsFor(s, d).filter(col("id1") % 4 === 0),
          Tables.documents(s, d), "doc_id", "text")
        .filter(col("jaccard") >= 0.5)
        .select(col("id1"), col("id2"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("id1", "id2"),
      Some(JaccardTruthCtes + " SELECT id1, id2, round(jac, 6) AS jaccard " +
        "FROM j WHERE jac >= 0.5 AND id1 % 4 = 0 ORDER BY id1, id2")),

    // MinHash RECALL AUDIT (r10 verdict item 1): the hash-free truth set
    // (all pairs at exact jaccard >= 0.5, gram-keyed equi-join — never
    // an all-pairs product) left-joined against the LSH candidates, so
    // every truth pair carries a `candidate` flag the oracle pins to
    // TRUE. A single missed pair turns the row red. This is the audit
    // lane for the (necessarily hash-specific, hence still rows-only)
    // x_minhash_lsh candidate stage; at 100 TB the truth side would add
    // the winnowCandidates-style doc-frequency cap before pairing —
    // here it runs uncapped at audit scale, like x_source_overlap. The
    // truth side reads the STORED gram table ([[gramTableFor]], already
    // distinct (_id, _sh) rows) — text is never re-shingled.
    Q("x_minhash_recall",
      (s, d) => {
        val grams = s.table(gramTableFor(s, d))
        val counts = grams.groupBy("_id").agg(count(lit(1)).as("_n"))
        // NOT Fanout-pinned (r16, measured): the truth self-join reads
        // the bucketed gram table shuffle-free at its bucket count, and
        // its warm candidate work is small (14 core-s at ×10 — the 168
        // core-s first-rep job was JIT cold-start, not parallelism);
        // pinning added a gram-table shuffle and measured SLOWER
        // (7–12.6 s → 11.6–30.6 s at sf1).
        val truth = grams.as("ga")
          .join(grams.as("gb"),
            col("ga._sh") === col("gb._sh") && col("ga._id") < col("gb._id"))
          .groupBy(col("ga._id").as("id1"), col("gb._id").as("id2"))
          .agg(count(lit(1)).as("_shared"))
          .join(counts.select(col("_id").as("id1"), col("_n").as("_n1")), "id1")
          .join(counts.select(col("_id").as("id2"), col("_n").as("_n2")), "id2")
          .withColumn("jaccard",
            col("_shared").cast("double") / (col("_n1") + col("_n2") - col("_shared")))
          .filter(col("jaccard") >= 0.5)
        truth
          .join(minhashCandsFor(s, d).withColumn("_hit", lit(true)),
            Seq("id1", "id2"), "left")
          .select(col("id1"), col("id2"), round(col("jaccard"), 6).as("jaccard"),
            coalesce(col("_hit"), lit(false)).as("candidate"))
          .orderBy("id1", "id2")
      },
      Some(JaccardTruthCtes + " SELECT id1, id2, round(jac, 6) AS jaccard, " +
        "true AS candidate FROM j WHERE jac >= 0.5 ORDER BY id1, id2")),

    // The same verification math over DETERMINISTIC pairs (adjacent ids),
    // so the Jaccard computation itself is hash-checked: Jaccard over
    // 64-bit shingle hashes equals Jaccard over the shingle strings
    // (injective modulo ~2^-64 collisions), which DuckDB computes from
    // string 3-gram sets directly.
    Q("x_jaccard_exact",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val pairs = docs.filter(col("doc_id") < 50)
          .select(col("doc_id").as("id1"), (col("doc_id") + 1).as("id2"))
        Dedup.jaccardVerify(pairs, docs, "doc_id", "text")
          .select(col("id1"), col("id2"), round(col("jaccard"), 6).as("jaccard"))
          .orderBy("id1", "id2")
      },
      Some("WITH t AS (SELECT doc_id, string_split_regex(text, ' +') AS toks FROM documents), " +
        "e AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 2)) AS p FROM t " +
        "WHERE len(toks) >= 3), " +
        "g AS (SELECT doc_id, list(DISTINCT array_to_string(toks[p:p+2], ' ')) AS sh " +
        "FROM e GROUP BY doc_id), " +
        "pr AS (SELECT a.doc_id AS id1, b.doc_id AS id2, a.sh AS s1, b.sh AS s2 " +
        "FROM g a JOIN g b ON b.doc_id = a.doc_id + 1 WHERE a.doc_id < 50) " +
        "SELECT id1, id2, round(CAST(len(list_intersect(s1, s2)) AS DOUBLE) / " +
        "len(list_distinct(list_concat(s1, s2))), 6) AS jaccard " +
        "FROM pr ORDER BY id1, id2")),

    // Verification from the STORED gram-pair table: the same
    // deterministic adjacent-id pairs as x_jaccard_exact, verified via
    // jaccardVerifyFromPairs against the (_id, _sh) table written once
    // per (session, sf) and bucketed by its join key — document text is
    // never read. Shares x_jaccard_exact's string-3-gram oracle: the
    // stored-pair path must reproduce the exact Jaccard values.
    Q("x_jaccard_stored",
      (s, d) => {
        val pairs = Tables.documents(s, d).filter(col("doc_id") < 50)
          .select(col("doc_id").as("id1"), (col("doc_id") + 1).as("id2"))
        Dedup.jaccardVerifyFromPairs(pairs, s.table(gramTableFor(s, d)))
          .select(col("id1"), col("id2"), round(col("jaccard"), 6).as("jaccard"))
          .orderBy("id1", "id2")
      },
      Some("WITH t AS (SELECT doc_id, string_split_regex(text, ' +') AS toks FROM documents), " +
        "e AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 2)) AS p FROM t " +
        "WHERE len(toks) >= 3), " +
        "g AS (SELECT doc_id, list(DISTINCT array_to_string(toks[p:p+2], ' ')) AS sh " +
        "FROM e GROUP BY doc_id), " +
        "pr AS (SELECT a.doc_id AS id1, b.doc_id AS id2, a.sh AS s1, b.sh AS s2 " +
        "FROM g a JOIN g b ON b.doc_id = a.doc_id + 1 WHERE a.doc_id < 50) " +
        "SELECT id1, id2, round(CAST(len(list_intersect(s1, s2)) AS DOUBLE) / " +
        "len(list_distinct(list_concat(s1, s2))), 6) AS jaccard " +
        "FROM pr ORDER BY id1, id2")),

    // Int8 quantization of the embedding corpus: per-dim affine codes +
    // per-vector reconstruction MSE. q_sum is an exact integer checksum
    // of the codes; floor(x+.5) keeps code arithmetic bit-identical to
    // the oracle's, and MSE (64 tiny positive terms) rounds at 1e-12,
    // far above any summation-order difference.
    Q("x_quantize_int8",
      (s, d) => Similarity.quantizeInt8(Tables.embeddings(s, d), "vec_id", "embedding")
        .select(col("vec_id"), size(col("codes")).cast("long").as("n_dims"),
          aggregate(col("codes"), lit(0L), (a, q) => a + q).as("q_sum"),
          round(col("mse"), 12).as("mse"))
        .orderBy("vec_id"),
      Some("WITH x AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v, " +
        "generate_subscripts(embedding, 1) AS dim FROM embeddings), " +
        "st AS (SELECT dim, min(v) AS lo, max(v) AS hi FROM x GROUP BY dim), " +
        "q AS (SELECT vec_id, v, lo, hi, CASE WHEN hi = lo THEN 0 ELSE " +
        "CAST(least(greatest(floor((v - lo) / (hi - lo) * 255 + 0.5), 0), 255) AS BIGINT) " +
        "END AS code FROM x JOIN st USING (dim)) " +
        "SELECT vec_id, CAST(count(*) AS BIGINT) AS n_dims, " +
        "CAST(sum(code) AS BIGINT) AS q_sum, " +
        "round(sum(power(v - (lo + code / 255.0 * (hi - lo)), 2)) / count(*), 12) AS mse " +
        "FROM q GROUP BY vec_id ORDER BY vec_id")),

    // BPE merge learning: the top-12 merges from corpus word
    // frequencies — deterministic (ties break count desc, pair asc), so
    // ORACLE-CHECKED despite being iterative: the corpus vocabulary is
    // small (31 word types at every sf), so the whole learner state fits
    // in one list-valued row per DuckDB recursive-CTE iteration (see
    // [[bpeOracleCtes]]). At this vocabulary size the learner takes its
    // DRIVER-TAIL regime (the distributed rounds are priced and
    // oracle-checked separately by x_bpe_merges_dist below; both
    // regimes are parity-pinned in tests).
    Q("x_bpe_merges",
      (s, d) => TextAnalysis.bpeLearnBatched(Tables.documents(s, d), "text",
          numMerges = 12)
        .orderBy("merge_rank"),
      Some(bpeOracleCtes(12) +
        " SELECT merge_rank, l AS \"left\", r AS \"right\", c AS pair_count " +
        "FROM it WHERE merge_rank >= 1 ORDER BY merge_rank")),

    // The DISTRIBUTED batched rounds of the same learner, forced via
    // driverVocabLimit = 0 — the regime a 100 TB corpus vocabulary
    // (past the collect limit) takes. Identical output to x_bpe_merges
    // by construction (bitwise parity is also test-pinned), so it
    // shares the recursive-CTE oracle; registering it keeps the
    // distributed path priced in BENCH and hash-checked every round
    // rather than exercised only by tests.
    Q("x_bpe_merges_dist",
      (s, d) => TextAnalysis.bpeLearnBatched(Tables.documents(s, d), "text",
          numMerges = 12, driverVocabLimit = 0L)
        .orderBy("merge_rank"),
      Some(bpeOracleCtes(12) +
        " SELECT merge_rank, l AS \"left\", r AS \"right\", c AS pair_count " +
        "FROM it WHERE merge_rank >= 1 ORDER BY merge_rank")),

    // The production-vocabulary shape of the same learner: 100 merges,
    // where one job per merge would be impractical — the batched rounds
    // are what make tokenizer training scale toward 32 k-merge vocabs.
    // The 31-type corpus exhausts after 89 merges; the oracle's
    // recursion stops the same way the learner does, so the whole
    // 89-row table is hash-checked.
    Q("x_bpe_merges_100",
      (s, d) => TextAnalysis.bpeLearnBatched(Tables.documents(s, d), "text",
          numMerges = 100)
        .orderBy("merge_rank"),
      Some(bpeOracleCtes(100) +
        " SELECT merge_rank, l AS \"left\", r AS \"right\", c AS pair_count " +
        "FROM it WHERE merge_rank >= 1 ORDER BY merge_rank")),

    // The production ENCODE lifecycle over that table: the scalable
    // encoder (constant plan size, distinct-word encode + join-back)
    // applies the memoized 100-merge table, so this query prices
    // encoding alone — the expression-chain twin x_bpe_subwords stays
    // the right tool at its 12-merge scale. Oracle-checked like
    // x_bpe_subwords (encode(learn-corpus) = the learner's final
    // symbol state), here against the exhausted 89-merge state.
    Q("x_bpe_subwords_100",
      (s, d) => TextAnalysis.bpeEncodeScalable(Tables.documents(s, d),
          "doc_id", "text", bpe100For(s, d))
        .select(col("doc_id"), size(col("subwords")).cast("long").as("n_subwords"))
        .orderBy("doc_id"),
      Some(bpeOracleCtes(100) + ", " +
        "fin AS (SELECT unnest(st) AS ws FROM (SELECT st FROM it ORDER BY merge_rank DESC LIMIT 1)), " +
        "wl AS (SELECT array_to_string(ws.syms, '') AS w, len(ws.syms) AS k FROM fin), " +
        "dt AS (SELECT doc_id, t FROM (SELECT doc_id, " +
        "unnest(string_split_regex(text, ' +')) AS t FROM documents) WHERE length(t) > 0), " +
        "cnt AS (SELECT dt.doc_id, sum(wl.k) AS n FROM dt JOIN wl ON dt.t = wl.w GROUP BY dt.doc_id) " +
        "SELECT d.doc_id, CAST(COALESCE(cnt.n, 0) AS BIGINT) AS n_subwords " +
        "FROM documents d LEFT JOIN cnt ON d.doc_id = cnt.doc_id ORDER BY d.doc_id")),

    // The full tokenizer lifecycle: learn the merge table, then ENCODE
    // the corpus with it — per-doc subword counts. Oracle-checked: the
    // encoder replays the learner's greedy fold in rank order, so
    // encode(learn-corpus) reproduces the learner's FINAL symbol state
    // word for word — the oracle takes the recursive CTE's last-round
    // state and sums each document's per-token symbol counts from it,
    // an independent restatement of that parity invariant.
    Q("x_bpe_subwords",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val merges = TextAnalysis.bpeLearnBatched(docs, "text", numMerges = 12)
          .orderBy("merge_rank")
          .select("left", "right").collect()
          .map(r => (r.getString(0), r.getString(1))).toSeq
        TextAnalysis.bpeEncode(docs, "doc_id", "text", merges)
          .select(col("doc_id"), size(col("subwords")).cast("long").as("n_subwords"))
          .orderBy("doc_id")
      },
      Some(bpeOracleCtes(12) + ", " +
        "fin AS (SELECT unnest(st) AS ws FROM (SELECT st FROM it ORDER BY merge_rank DESC LIMIT 1)), " +
        "wl AS (SELECT array_to_string(ws.syms, '') AS w, len(ws.syms) AS k FROM fin), " +
        "dt AS (SELECT doc_id, t FROM (SELECT doc_id, " +
        "unnest(string_split_regex(text, ' +')) AS t FROM documents) WHERE length(t) > 0), " +
        "cnt AS (SELECT dt.doc_id, sum(wl.k) AS n FROM dt JOIN wl ON dt.t = wl.w GROUP BY dt.doc_id) " +
        "SELECT d.doc_id, CAST(COALESCE(cnt.n, 0) AS BIGINT) AS n_subwords " +
        "FROM documents d LEFT JOIN cnt ON d.doc_id = cnt.doc_id ORDER BY d.doc_id")),

    // Tokenizer-vocabulary coverage: per-doc OOV fraction against the
    // corpus's top-20 tokens (vocabulary is 31 types at every sf, so
    // the cut bites everywhere). The oracle re-derives the
    // deterministic vocabulary cut as a ranking window.
    Q("x_oov_rate",
      (s, d) => TextAnalysis.oovRate(Tables.documents(s, d), "doc_id", "text",
          vocabSize = 20)
        .orderBy("doc_id"),
      Some("WITH tk AS (SELECT doc_id, t FROM (SELECT doc_id, " +
        "unnest(string_split_regex(text, ' +')) AS t FROM documents) WHERE length(t) > 0), " +
        "vc AS (SELECT t, count(*) AS c FROM tk GROUP BY t), " +
        "vr AS (SELECT t, row_number() OVER (ORDER BY c DESC, t) AS rn FROM vc), " +
        "v AS (SELECT t FROM vr WHERE rn <= 20) " +
        "SELECT tk.doc_id, CAST(count(*) AS BIGINT) AS n_tokens, " +
        "round(avg(CASE WHEN v.t IS NULL THEN 1.0 ELSE 0.0 END), 6) AS oov_frac " +
        "FROM tk LEFT JOIN v ON tk.t = v.t GROUP BY tk.doc_id ORDER BY tk.doc_id")),

    // Compression-ratio repetition signal (deflate bytes / raw bytes).
    // The ratio itself is zlib-internal (deterministic run to run, but
    // no DuckDB restatement exists; the repetitive-text-compresses-
    // further ordering is pinned in tests). Oracle-checked since r11 on
    // the two hash-free facets: `n_bytes` must equal the UTF-8 byte
    // length DuckDB computes (strlen is byte length there), and every
    // ratio must land in the structural (0.2, 1.3) window — deflate on
    // real text cannot 5x-compress these documents nor inflate past the
    // stored-block overhead bound (measured corpus range 0.38..1.13).
    Q("x_compression_ratio",
      (s, d) => TextAnalysis.compressionRatio(Tables.documents(s, d), "doc_id", "text")
        .select(col("doc_id"), col("n_bytes"),
          (col("compression_ratio") > 0.2 && col("compression_ratio") < 1.3)
            .as("ratio_in_bounds"))
        .orderBy("doc_id"),
      Some("SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes, " +
        "true AS ratio_in_bounds FROM documents ORDER BY doc_id")),

    // BM25 keyword relevance over the corpus (query: window/join/sort —
    // common terms, so scores discriminate via tf and length). Output
    // is every matching doc ordered by id, score rounded — no
    // top-k rank crosses the engines, so fp summation order cannot
    // flip a row. Oracle re-derives idf, tf, and the length
    // normalization verbatim.
    Q("x_bm25",
      (s, d) => TextAnalysis.bm25Score(Tables.documents(s, d), "doc_id", "text",
          Seq("window", "join", "sort"))
        .select(col("doc_id"), round(col("bm25"), 6).as("bm25"))
        .orderBy("doc_id"),
      Some("WITH t AS (SELECT doc_id, string_split_regex(text, ' +') AS toks " +
        "FROM documents), " +
        "dd AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl FROM t), " +
        "st AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM dd), " +
        "e AS (SELECT doc_id, unnest(toks) AS tt FROM t), " +
        "tf AS (SELECT doc_id, tt, CAST(count(*) AS DOUBLE) AS tf FROM e " +
        "WHERE tt IN ('window', 'join', 'sort') GROUP BY 1, 2), " +
        "dft AS (SELECT tt, CAST(count(*) AS DOUBLE) AS dft FROM tf GROUP BY 1), " +
        "sc AS (SELECT tf.doc_id, " +
        "ln((st.n - dft.dft + 0.5) / (dft.dft + 0.5) + 1) * tf.tf * (1.2 + 1.0) / " +
        "(tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dd.dl / st.avgdl)) AS s " +
        "FROM tf JOIN dft USING (tt) JOIN dd ON dd.doc_id = tf.doc_id CROSS JOIN st) " +
        "SELECT doc_id, round(sum(s), 6) AS bm25 FROM sc " +
        "GROUP BY doc_id ORDER BY doc_id")),

    // Hybrid retrieval: min-max-normalized BM25 blended 50/50 with the
    // [0,1]-mapped cosine to the query vector — the lexical+semantic
    // fusion a retrieval-augmented curation pass runs. The norm stats
    // are a broadcast 1-row aggregate and the cosine is the narrow
    // plan-constant kernel, so the blend adds no data-sized shuffle
    // beyond its two inputs. Oracle re-derives both legs and the
    // normalization end to end.
    Q("x_hybrid_search",
      (s, d) => {
        val bm = TextAnalysis.bm25Score(Tables.documents(s, d), "doc_id", "text",
          Seq("window", "join", "sort"))
        val q = queryVec(s, d)
        val cos = Tables.documents(s, d).select(col("doc_id"))
          .join(Tables.embeddings(s, d).select(col("vec_id").as("doc_id"),
            Similarity.cosine(col("embedding"), array(q.map(lit): _*)).as("cos")),
            "doc_id")
        Similarity.hybridBlend(bm, cos, "doc_id", "bm25", "cos")
          .select(col("doc_id"), round(col("hybrid"), 6).as("hybrid"))
          .orderBy("doc_id")
      },
      Some("WITH t AS (SELECT doc_id, string_split_regex(text, ' +') AS toks " +
        "FROM documents), " +
        "dd AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl FROM t), " +
        "st AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM dd), " +
        "e AS (SELECT doc_id, unnest(toks) AS tt FROM t), " +
        "tf AS (SELECT doc_id, tt, CAST(count(*) AS DOUBLE) AS tf FROM e " +
        "WHERE tt IN ('window', 'join', 'sort') GROUP BY 1, 2), " +
        "dft AS (SELECT tt, CAST(count(*) AS DOUBLE) AS dft FROM tf GROUP BY 1), " +
        "sc AS (SELECT tf.doc_id, " +
        "ln((st.n - dft.dft + 0.5) / (dft.dft + 0.5) + 1) * tf.tf * (1.2 + 1.0) / " +
        "(tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dd.dl / st.avgdl)) AS s " +
        "FROM tf JOIN dft USING (tt) JOIN dd ON dd.doc_id = tf.doc_id CROSS JOIN st), " +
        "bm AS (SELECT doc_id, sum(s) AS bm25 FROM sc GROUP BY doc_id), " +
        "mm AS (SELECT min(bm25) AS lo, max(bm25) AS hi FROM bm), " +
        "nb AS (SELECT doc_id, CASE WHEN mm.hi = mm.lo THEN 1.0 " +
        "ELSE (bm25 - mm.lo) / (mm.hi - mm.lo) END AS nbv FROM bm CROSS JOIN mm), " +
        "qv AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0), " +
        "dv AS (SELECT emb.vec_id AS doc_id, unnest(emb.embedding) AS a, " +
        "unnest(qv.qe) AS b FROM embeddings emb, qv " +
        "WHERE emb.vec_id IN (SELECT doc_id FROM documents)), " +
        "cs AS (SELECT doc_id, sum(CAST(a AS DOUBLE) * CAST(b AS DOUBLE)) / " +
        "(sqrt(sum(CAST(a AS DOUBLE) * CAST(a AS DOUBLE))) * " +
        "sqrt(sum(CAST(b AS DOUBLE) * CAST(b AS DOUBLE)))) AS cosv " +
        "FROM dv GROUP BY doc_id), " +
        "u AS (SELECT coalesce(nb.doc_id, cs.doc_id) AS doc_id, " +
        "coalesce(nb.nbv, 0) * 0.5 + coalesce((cs.cosv + 1.0) / 2.0, 0) * 0.5 AS h " +
        "FROM nb FULL OUTER JOIN cs ON nb.doc_id = cs.doc_id) " +
        "SELECT doc_id, round(h, 6) AS hybrid FROM u ORDER BY doc_id")),

    // Global dataset release card: one row of corpus-version summary
    // stats incl. language-distribution entropy via the exact
    // H = ln(N) − Σc·ln(c)/N identity, restated verbatim in the oracle.
    Q("x_dataset_card",
      (s, d) => TextAnalysis.datasetCard(Tables.documents(s, d), "source", "lang", "text"),
      Some("WITH t AS (SELECT lang, source, text, " +
        "len(string_split_regex(text, ' +')) AS ntok FROM documents), " +
        "lc AS (SELECT lang, CAST(count(*) AS DOUBLE) AS c FROM t GROUP BY lang), " +
        "ent AS (SELECT round(ln(sum(c)) - sum(c * ln(c)) / sum(c), 6) AS h FROM lc) " +
        "SELECT CAST(count(*) AS BIGINT) AS n_docs, " +
        "CAST(sum(ntok) AS BIGINT) AS n_tokens, " +
        "CAST(count(DISTINCT source) AS BIGINT) AS n_sources, " +
        "CAST(count(DISTINCT lang) AS BIGINT) AS n_langs, " +
        "round(1 - count(DISTINCT text) / CAST(count(*) AS DOUBLE), 6) AS dup_frac, " +
        "round(avg(ntok), 6) AS mean_doc_tokens, " +
        "(SELECT h FROM ent) AS lang_entropy FROM t")),

    // Cross-source duplication matrix: distinct shared 4-grams per
    // source pair. Hashed grams ≡ string grams (the x_decontaminate
    // identity), so the oracle recomputes the matrix from string
    // n-grams directly.
    Q("x_source_overlap",
      (s, d) => TextAnalysis.sourceOverlap(Tables.documents(s, d), "source", "text", n = 4)
        .orderBy("source_a", "source_b"),
      Some("WITH t AS (SELECT source, string_split_regex(text, ' +') AS toks " +
        "FROM documents), " +
        "e AS (SELECT source, toks, unnest(generate_series(1, len(toks) - 3)) AS p " +
        "FROM t WHERE len(toks) >= 4), " +
        "g AS (SELECT DISTINCT source, array_to_string(toks[p:p+3], ' ') AS ngram FROM e) " +
        "SELECT a.source AS source_a, b.source AS source_b, " +
        "CAST(count(*) AS BIGINT) AS shared_ngrams " +
        "FROM g a JOIN g b ON a.ngram = b.ngram AND a.source < b.source " +
        "GROUP BY 1, 2 ORDER BY 1, 2")),

    // Per-source curation report: volumes, exact-dup rate, dominant
    // language + share — one row per ingest source, all hash
    // aggregates. Hash-distinct ≡ text-distinct (the x_dedup_exact
    // identity), so the oracle counts DISTINCT text directly; the
    // dominant-language tie-break (count desc, lang desc) is restated
    // as a ranking window.
    Q("x_source_report",
      (s, d) => TextAnalysis.sourceReport(Tables.documents(s, d), "source", "lang", "text")
        .orderBy("source"),
      Some("WITH t AS (SELECT source, lang, text, " +
        "len(string_split_regex(text, ' +')) AS ntok FROM documents), " +
        "agg AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs, " +
        "CAST(sum(ntok) AS BIGINT) AS n_tokens, " +
        "CAST(count(DISTINCT text) AS BIGINT) AS distinct_docs, " +
        "round(1 - count(DISTINCT text) / CAST(count(*) AS DOUBLE), 6) AS dup_frac, " +
        "round(avg(ntok), 6) AS mean_tokens FROM t GROUP BY source), " +
        "lc AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS cnt " +
        "FROM t GROUP BY source, lang), " +
        "top AS (SELECT source, lang, cnt, row_number() OVER " +
        "(PARTITION BY source ORDER BY cnt DESC, lang DESC) AS rn FROM lc) " +
        "SELECT a.source, a.n_docs, a.n_tokens, a.distinct_docs, a.dup_frac, " +
        "a.mean_tokens, top.lang AS top_lang, " +
        "round(top.cnt / CAST(a.n_docs AS DOUBLE), 6) AS top_lang_share " +
        "FROM agg a JOIN top ON top.source = a.source AND top.rn = 1 " +
        "ORDER BY a.source")),

    // Domain-mix diagnostics: KL divergence of each source's token
    // distribution from the corpus mixture — finite by construction
    // (every source token is in the corpus), vocabulary-keyed joins.
    Q("x_source_divergence",
      (s, d) => TextAnalysis.sourceDivergence(Tables.documents(s, d), "source", "text")
        .select(col("source"), col("n_tokens"), round(col("kl"), 6).as("kl"))
        .orderBy("source"),
      Some("WITH tok AS (SELECT source, unnest(string_split_regex(text, ' +')) AS t " +
        "FROM documents), " +
        "ft AS (SELECT source, t, count(*) AS c FROM tok WHERE length(t) > 0 " +
        "GROUP BY source, t), " +
        "st AS (SELECT source, sum(c) AS ns FROM ft GROUP BY source), " +
        "ct AS (SELECT t, sum(c) AS ctot FROM ft GROUP BY t), " +
        "n AS (SELECT sum(ctot) AS n FROM ct) " +
        "SELECT source, CAST(max(ns) AS BIGINT) AS n_tokens, " +
        "round(sum((c / CAST(ns AS DOUBLE)) * " +
        "ln((c / CAST(ns AS DOUBLE)) / (ctot / CAST(n.n AS DOUBLE)))), 6) AS kl " +
        "FROM ft JOIN st USING (source) JOIN ct USING (t) CROSS JOIN n " +
        "GROUP BY source ORDER BY source")),

    // Zipf rank-frequency slope over the top-100 vocabulary — the
    // corpus-health scalar (natural text ~ -1). regr_slope on both
    // engines; the rank window runs over the bounded 100-row top-k.
    Q("x_zipf_slope",
      (s, d) => TextAnalysis.zipfSlope(Tables.documents(s, d), "text", 100)
        .select(round(col("slope"), 6).as("slope")),
      Some("WITH tok AS (SELECT unnest(string_split_regex(text, ' +')) AS token " +
        "FROM documents), " +
        "v AS (SELECT token, count(*) AS freq FROM tok WHERE length(token) > 0 " +
        "GROUP BY token ORDER BY freq DESC, token LIMIT 100), " +
        "r AS (SELECT freq, row_number() OVER (ORDER BY freq DESC, token) AS rank FROM v) " +
        "SELECT round(regr_slope(ln(freq), ln(rank)), 6) AS slope FROM r")),

    // Quantile (curriculum) bucketing: quartile label per document by
    // length — broadcast exact cut points, narrow per-row labeling, the
    // corpus never shuffles. Both engines compute the same interpolated
    // percentile, so the strict > comparisons agree exactly.
    Q("x_quality_buckets",
      (s, d) => graft.prep.Prep.quantileBuckets(
          Tables.documents(s, d).select(col("doc_id"), col("n_chars")),
          "n_chars", Seq(0.25, 0.5, 0.75))
        .select(col("doc_id"), col("n_chars"), col("bucket").cast("long").as("bucket"))
        .orderBy("doc_id"),
      Some("WITH c AS (SELECT quantile_cont(n_chars, 0.25) AS q1, " +
        "quantile_cont(n_chars, 0.5) AS q2, quantile_cont(n_chars, 0.75) AS q3 " +
        "FROM documents) " +
        "SELECT doc_id, n_chars, CAST(" +
        "(CASE WHEN n_chars > q1 THEN 1 ELSE 0 END) + " +
        "(CASE WHEN n_chars > q2 THEN 1 ELSE 0 END) + " +
        "(CASE WHEN n_chars > q3 THEN 1 ELSE 0 END) AS BIGINT) AS bucket " +
        "FROM documents CROSS JOIN c ORDER BY doc_id")),

    // One-pass column profiler over lineitem: row/null/exact-distinct
    // counts per column in ONE aggregate (Expand-planned multi-distinct)
    // — the Deequ-style pre-training data-quality sweep.
    Q("x_profile",
      (s, d) => graft.prep.Prep.profile(Tables.lineitem(s, d),
          Seq("l_orderkey", "l_quantity", "l_returnflag", "l_shipdate"))
        .orderBy("col_name"),
      Some(Seq("l_orderkey", "l_quantity", "l_returnflag", "l_shipdate").map(c =>
        s"SELECT '$c' AS col_name, CAST(count(*) AS BIGINT) AS n_rows, " +
        s"CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls, " +
        s"CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct FROM lineitem")
        .mkString(" UNION ALL ") + " ORDER BY col_name")),

    // Signed random projection (JL sketch) of the embedding corpus to 4
    // dims — the deterministic ±1 matrix derives from the portable-hash
    // rule over the flattened index, so the ORACLE rebuilds the matrix
    // from arithmetic alone and reproduces the projection exactly (no
    // stored matrix, no RNG). One MatVecProduct codegen kernel per row.
    // Per-label centroid prototypicality: cosine of every embedding to
    // its label's mean vector, outliers below the threshold flagged.
    // Oracle re-derives the centroid and the cosine from unnested
    // arithmetic.
    Q("x_centroid_outliers",
      (s, d) => Similarity.centroidOutliers(Tables.embeddings(s, d), "label", "vec_id",
          "embedding", minCos = 0.2)
        .select(col("vec_id"), col("label"),
          round(col("cos_centroid"), 6).as("cos_centroid"), col("outlier"))
        .orderBy("vec_id"),
      Some("WITH x AS (SELECT vec_id, label, CAST(unnest(embedding) AS DOUBLE) AS v, " +
        "generate_subscripts(embedding, 1) AS j FROM embeddings), " +
        "c AS (SELECT label, j, avg(v) AS cj FROM x GROUP BY label, j), " +
        "s AS (SELECT x.vec_id, x.label, sum(x.v * c.cj) AS dt, " +
        "sum(x.v * x.v) AS nx, sum(c.cj * c.cj) AS nc " +
        "FROM x JOIN c ON x.label = c.label AND x.j = c.j GROUP BY x.vec_id, x.label) " +
        "SELECT vec_id, label, round(dt / (sqrt(nx) * sqrt(nc)), 6) AS cos_centroid, " +
        "(isnan(dt / (sqrt(nx) * sqrt(nc))) OR dt / (sqrt(nx) * sqrt(nc)) < 0.2) " +
        "AS outlier FROM s ORDER BY vec_id")),

    // The sign-bucket family (Similarity.knnJoin / semanticDedup over
    // SignBucketing), each row oracle-checked by signOracle. The gate
    // sfs hold 500 twin-free vectors, where Fixed(6), Auto, Adaptive and
    // Collapsed pick the same pairs; sf0.1 (2,000 vectors) and the ×10
    // ScaleGen corpus (20,000, with twins) take the other branches of
    // the count-derived rules.
    // pinned-plane anchor: 6 planes whatever the corpus size
    signQ(SignRow("x_semantic_dedup", Pairs(SignBucketing.Fixed(6)))),
    // planes from count(*), ~64 rows per bucket at any size
    signQ(SignRow("x_semantic_dedup_auto", Pairs(SignBucketing.Auto()))),
    // hot-cell split; below the cap it equals auto
    signQ(SignRow("x_semantic_dedup_adaptive", Pairs(SignBucketing.Adaptive()))),
    // split fixture: cap 16 < sf0.01's hottest cell (87 rows), so delta = 3
    signQ(SignRow("x_semantic_dedup_adaptive_split",
      Pairs(SignBucketing.Adaptive(targetBucket = 16L, splitFactor = 1L)))),
    // twin collapse: rep pairs plus star edges (rep → member, cos 1.0),
    // through the forwarder's own default parameters
    signQ(SignRow("x_semantic_dedup_collapsed", Cover(SignBucketing.Collapsed(64L, 6, 4L)))),
    // default = collapsed: the call with no bucketing gives the same cover
    signQ(SignRow("x_semantic_dedup_default", DefaultCover(SignBucketing.Collapsed(64L, 6, 4L)))),
    // the kNN rows mirror the dedup rows: pinned-plane anchor,
    signQ(SignRow("x_knn_join", Knn(SignBucketing.Fixed(6)))),
    // count-derived planes,
    signQ(SignRow("x_knn_join_auto", Knn(SignBucketing.Auto()))),
    // hot-cell split,
    signQ(SignRow("x_knn_join_adaptive", Knn(SignBucketing.Adaptive()))),
    // split fixture,
    signQ(SignRow("x_knn_join_adaptive_split",
      Knn(SignBucketing.Adaptive(targetBucket = 16L, splitFactor = 1L)))),
    // twin collapse: neighbours fan out to members, twins enter at cos 1.0
    signQ(SignRow("x_knn_join_collapsed", Knn(SignBucketing.Collapsed()))),

    Q("x_random_projection",
      (s, d) => {
        val dim = queryVec(s, d).length
        Similarity.signedProjection(Tables.embeddings(s, d), "vec_id", "embedding", dim, 4)
          .select(col("vec_id"),
            round(element_at(col("projection"), 1), 6).as("y0"),
            round(element_at(col("projection"), 2), 6).as("y1"),
            round(element_at(col("projection"), 3), 6).as("y2"),
            round(element_at(col("projection"), 4), 6).as("y3"))
          .orderBy("vec_id")
      },
      Some("WITH " + jlProjectionCtes("embeddings", "4") + " SELECT vec_id, " +
        (0 until 4).map(i => s"round(max(CASE WHEN i = $i THEN y END) / sqrt(4.0), 6) AS y$i")
          .mkString(", ") + " FROM p GROUP BY vec_id ORDER BY vec_id")),

    // Benchmark decontamination: flag corpus docs sharing any 4-gram
    // with the held-out "benchmark" slice (doc_id % 20 == 0). Hashed
    // n-grams join broadcast; the oracle states the same overlap over
    // string n-grams (identical counts under collision-free hashing —
    // the x_jaccard_exact identity). n=4 is the smallest n where this
    // corpus has both contaminated (~50) and clean docs.
    Q("x_decontaminate",
      (s, d) => {
        val docs = Tables.documents(s, d)
        Dedup.decontaminate(
          docs.filter(col("doc_id") % 20 =!= 0),
          docs.filter(col("doc_id") % 20 === 0),
          "doc_id", "text", n = 4)
          .orderBy("doc_id")
      },
      Some("WITH t AS (SELECT doc_id, string_split_regex(text, ' +') AS toks FROM documents), " +
        "e AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 3)) AS p FROM t " +
        "WHERE len(toks) >= 4), " +
        "g AS (SELECT doc_id, array_to_string(toks[p:p+3], ' ') AS ngram FROM e), " +
        "bench AS (SELECT DISTINCT ngram FROM g WHERE doc_id % 20 = 0), " +
        "hit AS (SELECT doc_id, count(DISTINCT ngram) AS n_shared FROM g " +
        "JOIN bench USING (ngram) WHERE doc_id % 20 <> 0 GROUP BY doc_id) " +
        "SELECT d.doc_id, coalesce(n_shared, 0) > 0 AS contaminated, " +
        "CAST(coalesce(n_shared, 0) AS BIGINT) AS n_shared " +
        "FROM (SELECT doc_id FROM documents WHERE doc_id % 20 <> 0) d " +
        "LEFT JOIN hit USING (doc_id) ORDER BY d.doc_id")),

    // Chunk-level exact dedup with reassembly: 2-token chunks, first
    // corpus-wide occurrence wins, documents rebuilt from surviving
    // chunks. Chunk text never shuffles (hash/doc/pos triples only);
    // the oracle restates winner selection and ordered reassembly over
    // string chunks.
    Q("x_chunk_dedup",
      (s, d) => Dedup.chunkDedup(Tables.documents(s, d), "doc_id", "text",
          chunkTokens = 2)
        .orderBy("doc_id"),
      Some("WITH t AS (SELECT doc_id, string_split_regex(text, ' +') AS toks FROM documents), " +
        "c0 AS (SELECT doc_id, toks, unnest(generate_series(0, (len(toks) - 1) // 2)) AS p FROM t), " +
        "c AS (SELECT doc_id, p, array_to_string(toks[p * 2 + 1 : p * 2 + 2], ' ') AS chunk " +
        "FROM c0), " +
        "w AS (SELECT doc_id, p FROM (SELECT doc_id, p, row_number() OVER " +
        "(PARTITION BY chunk ORDER BY doc_id, p) AS rn FROM c) WHERE rn = 1), " +
        "r AS (SELECT c.doc_id, count(*) AS kept, " +
        "string_agg(c.chunk, ' ' ORDER BY c.p) AS txt " +
        "FROM c JOIN w USING (doc_id, p) GROUP BY c.doc_id) " +
        "SELECT t.doc_id, CAST(coalesce(r.kept, 0) AS BIGINT) AS kept_chunks, " +
        "CAST((len(t.toks) - 1) // 2 + 1 AS BIGINT) AS total_chunks, " +
        "coalesce(r.txt, '') AS text_deduped " +
        "FROM t LEFT JOIN r ON t.doc_id = r.doc_id ORDER BY t.doc_id")),

    // Exact duplicated-SPAN detection (the Lee et al. suffix-array op in
    // its k-gram shape): every 6-token window shared verbatim by >= 2
    // documents marks its positions; maximal covered runs merge into
    // end-exclusive spans via the per-doc islands window. Gram identity
    // is an 8-byte hash on the Spark side; the oracle recomputes over
    // gram STRINGS and restates the island merge.
    Q("x_dup_spans",
      (s, d) => Dedup.duplicatedSpans(Tables.documents(s, d), "doc_id", "text",
          k = 6)
        .orderBy("doc_id", "span_start"),
      Some("WITH t AS (SELECT doc_id, string_split_regex(text, ' +') AS toks FROM documents), " +
        "e AS (SELECT doc_id, toks, unnest(generate_series(0, len(toks) - 6)) AS p FROM t " +
        "WHERE len(toks) >= 6), " +
        "g AS (SELECT doc_id, p, array_to_string(toks[p + 1 : p + 6], ' ') AS gram FROM e), " +
        "dup AS (SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2), " +
        "cov AS (SELECT DISTINCT doc_id, tp FROM " +
        "(SELECT doc_id, unnest(generate_series(p, p + 5)) AS tp FROM g JOIN dup USING (gram))), " +
        "isl AS (SELECT doc_id, tp, tp - row_number() OVER " +
        "(PARTITION BY doc_id ORDER BY tp) AS grp FROM cov) " +
        "SELECT doc_id, CAST(min(tp) AS BIGINT) AS span_start, " +
        "CAST(max(tp) + 1 AS BIGINT) AS span_end " +
        "FROM isl GROUP BY doc_id, grp ORDER BY doc_id, span_start")),

    // The spans applied as a scrub: EVERY occurrence of a duplicated
    // span is removed (boilerplate trains zero times — contrast
    // x_chunk_dedup's keep-first policy) and survivors rejoin in order.
    Q("x_dup_span_scrub",
      (s, d) => Dedup.scrubDuplicatedSpans(Tables.documents(s, d), "doc_id", "text",
          k = 6)
        .orderBy("doc_id"),
      Some("WITH t AS (SELECT doc_id, string_split_regex(text, ' +') AS toks FROM documents), " +
        "e AS (SELECT doc_id, toks, unnest(generate_series(0, len(toks) - 6)) AS p FROM t " +
        "WHERE len(toks) >= 6), " +
        "g AS (SELECT doc_id, p, array_to_string(toks[p + 1 : p + 6], ' ') AS gram FROM e), " +
        "dup AS (SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2), " +
        "cov AS (SELECT DISTINCT doc_id, tp FROM " +
        "(SELECT doc_id, unnest(generate_series(p, p + 5)) AS tp FROM g JOIN dup USING (gram))), " +
        "tok AS (SELECT doc_id, unnest(toks) AS w, " +
        "unnest(generate_series(0, len(toks) - 1)) AS p FROM t), " +
        "kept AS (SELECT tok.doc_id, tok.p, tok.w FROM tok LEFT JOIN cov " +
        "ON tok.doc_id = cov.doc_id AND tok.p = cov.tp WHERE cov.tp IS NULL), " +
        "r AS (SELECT doc_id, count(*) AS nk, string_agg(w, ' ' ORDER BY p) AS txt " +
        "FROM kept GROUP BY doc_id) " +
        "SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens, " +
        "CAST(len(t.toks) - coalesce(r.nk, 0) AS BIGINT) AS n_dropped, " +
        "coalesce(r.txt, '') AS clean_text " +
        "FROM t LEFT JOIN r USING (doc_id) ORDER BY t.doc_id")),

    // The scrub through its STORED lifecycle: the duplicated-gram table
    // is written bucketed by hash, reloaded from the catalog, and the
    // scrub joins the batch's gram probes against it — history on disk
    // as 8 bytes per gram, never recounted. Built from the same corpus
    // with the same k/minDocs, the output is x_dup_span_scrub's, so the
    // SAME oracle checks the whole write→reload→scrub path.
    Q("x_dup_scrub_stored",
      (s, d) => Dedup.scrubFromStored(Tables.documents(s, d), "doc_id", "text",
          k = 6, s.table(dupGramTableFor(s, d)))
        .orderBy("doc_id"),
      Some("WITH t AS (SELECT doc_id, string_split_regex(text, ' +') AS toks FROM documents), " +
        "e AS (SELECT doc_id, toks, unnest(generate_series(0, len(toks) - 6)) AS p FROM t " +
        "WHERE len(toks) >= 6), " +
        "g AS (SELECT doc_id, p, array_to_string(toks[p + 1 : p + 6], ' ') AS gram FROM e), " +
        "dup AS (SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2), " +
        "cov AS (SELECT DISTINCT doc_id, tp FROM " +
        "(SELECT doc_id, unnest(generate_series(p, p + 5)) AS tp FROM g JOIN dup USING (gram))), " +
        "tok AS (SELECT doc_id, unnest(toks) AS w, " +
        "unnest(generate_series(0, len(toks) - 1)) AS p FROM t), " +
        "kept AS (SELECT tok.doc_id, tok.p, tok.w FROM tok LEFT JOIN cov " +
        "ON tok.doc_id = cov.doc_id AND tok.p = cov.tp WHERE cov.tp IS NULL), " +
        "r AS (SELECT doc_id, count(*) AS nk, string_agg(w, ' ' ORDER BY p) AS txt " +
        "FROM kept GROUP BY doc_id) " +
        "SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens, " +
        "CAST(len(t.toks) - coalesce(r.nk, 0) AS BIGINT) AS n_dropped, " +
        "coalesce(r.txt, '') AS clean_text " +
        "FROM t LEFT JOIN r USING (doc_id) ORDER BY t.doc_id")),

    // Per-document n-gram novelty / boilerplate fractions over the
    // corpus's own 4-grams (df = 1 → novel; df >= 3 → boilerplate).
    // Same hashed-n-gram identity as x_decontaminate: the oracle
    // recomputes document frequency over string 4-grams.
    Q("x_novelty",
      (s, d) => TextAnalysis.ngramNovelty(Tables.documents(s, d), "doc_id", "text",
          n = 4, boilerplateDf = 3)
        .orderBy("doc_id"),
      Some("WITH t AS (SELECT doc_id, string_split_regex(text, ' +') AS toks FROM documents), " +
        "e AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 3)) AS p FROM t " +
        "WHERE len(toks) >= 4), " +
        "g AS (SELECT DISTINCT doc_id, array_to_string(toks[p:p+3], ' ') AS ngram FROM e), " +
        "dfc AS (SELECT ngram, count(*) AS docfreq FROM g GROUP BY ngram) " +
        "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_ngrams, " +
        "round(avg(CASE WHEN docfreq = 1 THEN 1.0 ELSE 0.0 END), 6) AS novel_frac, " +
        "round(avg(CASE WHEN docfreq >= 3 THEN 1.0 ELSE 0.0 END), 6) AS boilerplate_frac " +
        "FROM g JOIN dfc USING (ngram) GROUP BY doc_id ORDER BY doc_id")),

    // Document fingerprint (order-sensitive rolling hash of the token
    // stream). Oracle-checked since r11 via the fingerprint's defining
    // CONTRACT: two documents share a fingerprint iff they share the
    // whitespace-token sequence (collisions aside), so the per-document
    // fingerprint-group size must equal the group size under the
    // token-sequence key — which DuckDB computes hash-free. A collision
    // (two distinct token streams, one fp) or a normalization divergence
    // turns the row red; the raw 64-bit values stay engine-specific by
    // nature and are exercised by every doc here.
    Q("x_fingerprint",
      (s, d) => {
        // one scan + ONE shuffle: count over partition-by-fp replaces the
        // r11 groupBy+self-join shape (2 scans + 2 shuffles, the 0.36→0.81 s
        // r11 bench regression); fp groups are dup clusters — tiny — so the
        // partitioned window is skew-safe and ExplainAudit-clean
        Tables.documents(s, d)
          .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("_fp"))
          .withColumn("n_same_fp",
            count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy("_fp")))
          .select(col("doc_id"), col("n_same_fp"))
          .orderBy("doc_id")
      },
      Some("WITH n AS (SELECT doc_id, " +
        "array_to_string(string_split_regex(text, ' +'), ' ') AS k FROM documents), " +
        "c AS (SELECT k, CAST(count(*) AS BIGINT) AS n_same_fp FROM n GROUP BY k) " +
        "SELECT doc_id, n_same_fp FROM n JOIN c USING (k) ORDER BY doc_id")),

    // LSH-bucketed ANN: banded OR-amplified hyperplane signatures →
    // narrow candidate filter → exact re-rank. Fully oracle-checked
    // since r11: the hyperplanes are splitmix64 bit-mixing, which DuckDB
    // restates exactly in HUGEINT mod-2^64 arithmetic
    // ([[splitmixHyperplaneCtes]]) — the oracle regenerates all 80
    // planes, recomputes every row's per-band sign pattern, applies the
    // same any-band-matches-the-query candidate filter, and re-ranks by
    // exact cosine, so candidate selection AND re-ranking are both
    // driver-verified (recall vs brute force stays pinned in
    // SimilaritySpec). Sign ties at a projection of exactly 0.0 are the
    // only cross-engine risk (summation order); projections are O(0.1+)
    // here so the margin is ~12 orders of magnitude.
    Q("x_ann_lsh",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val q = queryVec(s, d)
        Similarity.lshTopK(emb.filter(col("vec_id") > 0), "vec_id", "embedding", q, k = 20)
          .select(col("vec_id"), round(col("cos"), 6).as("cos"))
      },
      Some(splitmixHyperplaneCtes(80) + ", " +
        "ev AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v, " +
        "generate_subscripts(embedding, 1) - 1 AS i FROM embeddings), " +
        "pj AS (SELECT ev.vec_id, hp.p, sum(ev.v * hp.h) >= 0 AS sg " +
        "FROM ev JOIN hp USING (i) GROUP BY 1, 2), " +
        "bnd AS (SELECT a.vec_id, a.p // 5 AS band, bool_and(a.sg = q.sg) AS m " +
        "FROM pj a JOIN (SELECT p, sg FROM pj WHERE vec_id = 0) q USING (p) " +
        "WHERE a.vec_id > 0 GROUP BY 1, 2), " +
        "cand AS (SELECT vec_id FROM bnd GROUP BY vec_id HAVING bool_or(m)), " +
        "q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0), " +
        "d AS (SELECT e.vec_id, unnest(e.embedding) AS a, unnest(q.qe) AS b " +
        "FROM embeddings e, q WHERE e.vec_id IN (SELECT vec_id FROM cand)), " +
        "sm AS (SELECT vec_id, sum(CAST(a AS DOUBLE) * CAST(b AS DOUBLE)) AS dt, " +
        "sum(CAST(a AS DOUBLE) * CAST(a AS DOUBLE)) AS na, " +
        "sum(CAST(b AS DOUBLE) * CAST(b AS DOUBLE)) AS nb FROM d GROUP BY vec_id) " +
        "SELECT vec_id, round(dt / (sqrt(na) * sqrt(nb)), 6) AS cos FROM sm " +
        "ORDER BY dt / (sqrt(na) * sqrt(nb)) DESC, vec_id LIMIT 20")),

    // Composed near-dup pipeline at its scale shape: one-pass banded
    // signatures (bandedSignatureRows) → compact-key equi-join candidates
    // → exact cosine verify on candidates only — no all-pairs product
    // anywhere in the plan (asserted in SimilaritySpec). Threshold 0.4
    // sits inside this corpus's populated similarity range (same cut as
    // the oracle-green x_semantic_dedup), so the result is non-empty at
    // every checked sf — a green here demonstrates recall on pairs that
    // actually exist, not a vacuous 0-row match. 8-bit bands trade some
    // recall at the threshold for a 5.7× smaller candidate set (the
    // dedup-side trade — true duplicates at cos ≥ 0.9 are still caught
    // w.p. ≈ 1). dim derives from the corpus's query vector, not a
    // hard-coded constant. Rows-only (hash-derived candidates).
    // Full oracle since r12: the banded signatures are PACKED SIGN BITS
    // of splitmix-hyperplane projections (bandedSignatureRows) — nothing
    // engine-specific — so DuckDB regenerates the 128 planes
    // (CosineNearDupLshOracle), repacks every band signature, reruns the
    // candidate join and the exact-cosine verification. The r11 closure
    // table called this lane xxhash-banded; it never was.
    Q("x_cosine_near_dup_lsh",
      (s, d) => Similarity.cosineNearDupLsh(
          Tables.embeddings(s, d), "vec_id", "embedding", dim = queryVec(s, d).length,
          minCos = 0.4, bitsPerBand = 8)
        .select(col("id1"), col("id2"), round(col("cos"), 6).as("cos"))
        .orderBy("id1", "id2"),
      Some(CosineNearDupLshOracle)),

    // The stored-index leg of the same pipeline: the banded signature
    // index is WRITTEN once per (session, sf) as a parquet table bucketed
    // by its join key (_band, _sig) — Layout.writeBucketed — and the
    // near-dup query verifies from the RELOADED table via `sigRows`, never
    // recomputing a signature (plan asserted in SimilaritySpec). This is
    // the 100 TB lifecycle: pay the signature scan once at index-build
    // time, amortize over every later near-dup run. Same oracle as the
    // inline leg since r12 — storage round-tripping must not change a
    // single pair, and now the driver checks that, not just the tests.
    Q("x_cosine_near_dup_lsh_stored",
      (s, d) => {
        val dim = queryVec(s, d).length
        val table = lshIndexTableFor(s, d, dim)
        Similarity.cosineNearDupLsh(Tables.embeddings(s, d), "vec_id", "embedding",
            dim = dim, minCos = 0.4, bitsPerBand = 8, sigRows = Some(s.table(table)))
          .select(col("id1"), col("id2"), round(col("cos"), 6).as("cos"))
          .orderBy("id1", "id2")
      },
      Some(CosineNearDupLshOracle)),

    // The data-scaled production form (r13 — closing the ×12.3-at-×10
    // watch item from the r12 sweep): band width follows count(*) via
    // the shared SignBucketing.Auto rule, holding per-band bucket occupancy at
    // ~64 rows so candidate work stays linear where the fixed 16×8
    // geometry goes quadratic. Degenerate (bits = 8, identical to the
    // fixed row) at the driver sf; the gapped ×10 sweep resolves
    // bits = 9 and exercises the derived-width branch under the gate.
    Q("x_cosine_near_dup_lsh_auto",
      (s, d) => Similarity.cosineNearDupLshAuto(
          Tables.embeddings(s, d), "vec_id", "embedding", dim = queryVec(s, d).length,
          minCos = 0.4)
        .select(col("id1"), col("id2"), round(col("cos"), 6).as("cos"))
        .orderBy("id1", "id2"),
      Some(CosineNearDupLshAutoOracle)),

    // Cosine-LSH RECALL AUDIT (r10 verdict item 1): the exact truth set
    // at cos > 0.5, left-joined against the banded-LSH pipeline's pairs,
    // so every strong near-dup carries a `recovered` flag the oracle
    // pins TRUE. The audit runs 32 bands × 4 bits (same 128 planes as
    // the production row's 16 × 8, re-banded): for a borderline
    // cos ≈ 0.5 pair the per-band collision prob is p⁴ ≈ 0.2, miss
    // probability (1−p⁴)³² < 1e-3 — the 16×8 banding the audit used
    // before left a ~50% COIN FLIP per borderline pair (the gapped-sf1
    // sweep caught exactly such a miss at cos 0.598). Non-vacuous at the
    // verify sf (the corpus has a >0.5 pair, inside the slice), and a
    // future miss turns the row red instead of hiding in a rows-only
    // check.
    //
    // The truth side is the exact all-pairs anchor, BOUNDED to the
    // vec_id < 500 slice (the whole corpus at the verify sf, a fixed
    // audit sample beyond it — the full-corpus form measured ×46 wall at
    // ×10 data in the r11 scale study, pure truth-side quadratics; the
    // LSH side under audit still runs over the FULL corpus). Exempt in
    // ExplainAudit like x_cosine_near_dup, same rationale.
    Q("x_cosine_lsh_recall",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val truth = Similarity.cosineNearDuplicates(
          emb.filter(col("vec_id") < 500), "vec_id", "embedding", 0.5)
        val found = Similarity.cosineNearDupLsh(emb, "vec_id", "embedding",
            dim = queryVec(s, d).length, minCos = 0.4, bands = 32, bitsPerBand = 4)
          .select(col("id1"), col("id2"), lit(true).as("_hit"))
        truth.join(found, Seq("id1", "id2"), "left")
          .select(col("id1"), col("id2"), round(col("cos"), 6).as("cos"),
            coalesce(col("_hit"), lit(false)).as("recovered"))
          .orderBy("id1", "id2")
      },
      Some("WITH d AS (SELECT a.vec_id AS id1, b.vec_id AS id2, unnest(a.embedding) AS x, " +
        "unnest(b.embedding) AS y FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id " +
        "WHERE a.vec_id < 500 AND b.vec_id < 500), " +
        "sm AS (SELECT id1, id2, sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dt, " +
        "sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS nx, " +
        "sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) AS ny FROM d GROUP BY id1, id2) " +
        "SELECT id1, id2, round(dt / (sqrt(nx) * sqrt(ny)), 6) AS cos, true AS recovered " +
        "FROM sm WHERE dt / (sqrt(nx) * sqrt(ny)) > 0.5 ORDER BY id1, id2")),

    // IVF index build: KMeans coarse quantizer fit + cell assignment,
    // persisted for reuse. Per-cell sizes are KMeans-internal, so the
    // output is the index's PARTITION CONTRACT, oracle-checked: every
    // corpus vector is assigned to exactly one cell
    // (n_assigned == n_vecs == the corpus count DuckDB states) and the
    // cell ids stay within the requested nlist = 8 (cells_bounded). The
    // bench still prices the build — this row's first touch pays the
    // [[ivfFor]] KMeans fit + persist.
    Q("x_ann_ivf_build",
      (s, d) => {
        val (assigned, _) = ivfFor(s, d)
        assigned.agg(
          (countDistinct(col("ivf_cell")).between(1, 8)).as("cells_bounded"),
          count(lit(1)).as("n_assigned"),
          countDistinct(col("vec_id")).as("n_vecs"))
      },
      Some("SELECT true AS cells_bounded, CAST(count(*) AS BIGINT) AS n_assigned, " +
        "CAST(count(DISTINCT vec_id) AS BIGINT) AS n_vecs " +
        "FROM embeddings WHERE vec_id > 0")),

    // IVF ANN probe: nprobe nearest cells of the prebuilt (cached) index,
    // exact re-rank inside them — rows-only (KMeans centers are
    // iteration-order sensitive across engines; recall pinned in
    // SimilaritySpec, probe machinery driver-checked by
    // x_ann_ivf_full_probe below).
    Q("x_ann_ivf",
      (s, d) => {
        val q = queryVec(s, d)
        val (assigned, km) = ivfFor(s, d)
        Similarity.ivfTopK(assigned, km, "vec_id", "embedding", q, nprobe = 2, k = 20)
          .select(col("vec_id"), round(col("cos"), 6).as("cos"))
      },
      None),

    // IVF probe machinery AUDIT: probing ALL
    // nlist = 8 cells must degenerate to the exact brute-force top-20 —
    // cell routing, the isin filter, and the re-rank all sit on the
    // checked path, and the oracle is the hash-free brute-force SQL. A
    // vector lost by assignment (or a cell the router can't reach)
    // turns this red; only the nprobe < nlist cell CHOICE remains
    // KMeans-specific, and that is exactly the recall trade
    // SimilaritySpec pins.
    Q("x_ann_ivf_full_probe",
      (s, d) => {
        val q = queryVec(s, d)
        val (assigned, km) = ivfFor(s, d)
        Similarity.ivfTopK(assigned, km, "vec_id", "embedding", q, nprobe = 8, k = 20)
          .select(col("vec_id"), round(col("cos"), 6).as("cos"))
      },
      Some(BruteForceTopKSql)),


    // The IVF join family (Similarity.ivfKnnJoin over IvfQuantizer).
    // production form: the memoized KMeans index (rows-only)
    ivfQ(IvfRow("x_ivf_knn_join", KMeansMemo)),
    // gate twin: the same join over anchors the oracle can restate
    ivfQ(IvfRow("x_ivf_knn_join_pinned", Pinned(Some(8)))),
    // nlist follows count(*): n^1.5 total work where either fixed dial is n²
    ivfQ(IvfRow("x_ivf_knn_join_auto", KMeansAuto)),
    // gate twin of the balance rule (nlist 32 at n = 500, 200 at n = 20,000)
    ivfQ(IvfRow("x_ivf_knn_join_auto_pinned", Pinned(None))),

    // IVF recall audit: each query's exact top-1 on the vec_id < 500
    // slice, flagged when the pinned-auto IVF join's top-3 on the same
    // slice holds it. The rate (~27% at the gate sf) belongs to the
    // smallest-id fixture anchors at nprobe 2 of 32, not to the lane:
    // SimilaritySpec pins ≥ 50% for KMeans cells. The row's value is
    // that both engines derive every flag. ExplainAudit-exempt for the
    // truth side's non-equi join.
    Q("x_ivf_recall",
      (s, d) => {
        val slice = Tables.embeddings(s, d).filter(col("vec_id") < AuditBound)
        recallFlags(slice, "recovered" ->
          Similarity.ivfKnnJoin(slice, "vec_id", "embedding", pinnedAuto(slice), nprobe = 2, k = 3))
      },
      Some(recallOracle(auditCandidateCtes(sliceCte(AuditBound)) + ivfExactRankCtes("sl"),
        Seq("recovered" -> "rnk")))),

    // cross-session leg: reloading the anchors must not change a row
    ivfQ(IvfRow("x_ivf_knn_join_stored", Stored)),
    // capped stand-ins of the two nlist-8 rows for sweeps past sf0.1
    ivfQ(IvfRow("x_ivf_knn_join_capped", KMeansFit, capped = true)),
    ivfQ(IvfRow("x_ivf_knn_join_pinned_capped", Pinned(Some(8)), capped = true)),
    // capped stand-ins for the sign-bucket rows whose within-bucket work
    // is quadratic at scale, so sweeps past sf0.1 can skip the full rows
    signQ(SignRow("x_knn_join_capped", Knn(SignBucketing.Fixed(6)), capped = true)),
    signQ(SignRow("x_knn_join_auto_capped", Knn(SignBucketing.Auto()), capped = true)),
    signQ(SignRow("x_semantic_dedup_capped", Pairs(SignBucketing.Fixed(6)), capped = true)),
    // PQ production form: uint8 codes in the cell join, exact re-rank of
    // the top-8 survivors (rows-only)
    ivfQ(IvfRow("x_ivf_pq_knn_join", KMeansAuto, pq = true)),
    // gate twin: codes, reconstruction cosines, survivor cut and re-rank
    ivfQ(IvfRow("x_ivf_pq_knn_join_pinned", Pinned(None), pq = true)),
    // both stored halves: stats from the artifact, not the current corpus
    ivfQ(IvfRow("x_ivf_pq_knn_join_stored", Stored, pq = true)),

    // PQ recall audit: the x_ivf_recall shape over the PQ join, so the
    // gap between the two rows' rates is the cost of the uint8 codes.
    Q("x_ivf_pq_recall",
      (s, d) => {
        val slice = Tables.embeddings(s, d).filter(col("vec_id") < AuditBound)
        recallFlags(slice, "recovered" -> Similarity.ivfKnnJoin(slice, "vec_id",
          "embedding", pinnedAuto(slice), nprobe = 2, k = 3,
          Some(IvfPq(PqBounds.stats(slice, "embedding"), kPrime = 8))))
      },
      Some(recallOracle(auditCandidateCtes(sliceCte(AuditBound)) +
        ivfPqChainCtes("8", "", PqMinMaxStatsSql), Seq("recovered" -> "rnk2")))),

    // Outlier audit: vec_id 3 becomes the constant vector 10^6, which
    // stretches the global min/max bounds until every normal value codes
    // to 0 and survivors fall to id order; rank-clipped bounds (c = 1)
    // drop it per dimension and hold recall. A constant (not a scaled
    // copy) makes every crushed reconstruction bit-identical, so the
    // degenerate ranking ties exactly and falls to the nid tie-break in
    // both engines; a scaled outlier left last-ulp survivor flips at the
    // kPrime boundary. Both flags are derived by both engines.
    Q("x_ivf_pq_outlier_recall",
      (s, d) => {
        val vecD = col("embedding").cast("array<double>")
        val slice = Tables.embeddings(s, d).filter(col("vec_id") < AuditBound)
          .withColumn("embedding",
            when(col("vec_id") === 3L, transform(vecD, _ => lit(1e6)))
              .otherwise(vecD))
        def pq(bounds: PqBounds) = Similarity.ivfKnnJoin(slice, "vec_id", "embedding",
          pinnedAuto(slice), nprobe = 2, k = 3, Some(IvfPq(bounds, kPrime = 8)))
        recallFlags(slice,
          "recovered_minmax" -> pq(PqBounds.stats(slice, "embedding")),
          "recovered_clipped" -> pq(PqBounds.rankClipped(slice, "embedding", 1)))
      },
      Some(recallOracle(auditCandidateCtes(
          "sl AS (SELECT vec_id, CASE WHEN vec_id = 3 THEN " +
            "list_transform(embedding, x -> 1000000.0) " +
            "ELSE list_transform(embedding, x -> CAST(x AS DOUBLE)) END AS embedding " +
            s"FROM embeddings WHERE vec_id < $AuditBound)") +
          ivfPqChainCtes("8", "_mm", PqMinMaxStatsSql) +
          ivfPqChainCtes("8", "_cl", pqRankClipStatsSql(1)),
        Seq("recovered_minmax" -> "rnk2_mm", "recovered_clipped" -> "rnk2_cl")))),

    // M3 — FFT magnitude per sliding window (native Catalyst expression).
    // DuckDB has no FFT, but the REPORTED bins are low-order DFT
    // magnitudes, and a DFT bin is just √((Σv·cos)² + (Σv·sin)²) — plain
    // SQL. The radix-2 butterfly and the direct sum agree to ~1e-12
    // absolute, far inside the 4-decimal rounding, so the oracle hashes
    // match exactly.
    Q("m3_fft_window",
      (s, d) => {
        // windows over the ordering-contract idx (positional, id-layout
        // independent; materialized once — Tables.eventsIdx)
        val wins = Windows.slidingWindows(Tables.eventsIdx(s, d), "_idx", "value", 64, 32)
        wins.select(col("window_id"),
            GraftFunctions.fft_magnitude(col("values")).as("_m"))
          .select(col("window_id"),
            round(element_at(col("_m"), 1), 4).as("dc"),
            round(element_at(col("_m"), 2), 4).as("bin1"),
            round(element_at(col("_m"), 3), 4).as("bin2"))
          .orderBy("window_id")
      },
      Some("WITH n AS (SELECT count(*) AS n FROM events), " +
        "r AS (SELECT row_number() OVER (ORDER BY event_id) - 1 AS ridx, value FROM events), " +
        "w AS (SELECT unnest(generate_series(0, (n.n - 64) // 32)) AS window_id FROM n), " +
        "ev AS (SELECT w.window_id, e.value, CAST(e.ridx - w.window_id * 32 AS DOUBLE) AS t " +
        "FROM w JOIN r e ON e.ridx >= w.window_id * 32 AND e.ridx < w.window_id * 32 + 64), " +
        "m AS (SELECT window_id, " +
        "abs(sum(value)) AS m0, " +
        "sqrt(pow(sum(value * cos(2 * pi() * 1 * t / 64)), 2) + pow(sum(value * sin(2 * pi() * 1 * t / 64)), 2)) AS m1, " +
        "sqrt(pow(sum(value * cos(2 * pi() * 2 * t / 64)), 2) + pow(sum(value * sin(2 * pi() * 2 * t / 64)), 2)) AS m2 " +
        "FROM ev GROUP BY window_id) " +
        "SELECT window_id, round(m0, 4) AS dc, round(m1, 4) AS bin1, round(m2, 4) AS bin2 " +
        "FROM m ORDER BY window_id")),

    // Multimodal plumbing: synthetic media table → stub decode → features.
    // Oracle-checkable: the synthetic blob is the first 33 utf8 bytes of
    // sha256-hex(id) (44 base64 chars = 33 bytes), and the stub codec is
    // `out[i % dim] += byte/255` — plain arithmetic DuckDB reproduces from
    // its own sha256. Float32 vs double accumulation stays inside the
    // 4-decimal rounding for every id (checked exhaustively over the
    // 1000-row table), so the hashes match exactly.
    Q("x_multimodal_features",
      (s, d) => {
        val media = Multimodal.syntheticMedia(s, 1000)
        Multimodal.extractFeatures(media, dim = 8)
          .select(col("media_id"), col("kind"),
            // cast BEFORE round: round(float) stays float and the parquet
            // dump would widen 1.6f to 1.600000023841858
            round(element_at(col("features"), 1).cast("double"), 4).as("f0"),
            round(element_at(col("features"), 2).cast("double"), 4).as("f1"))
          .orderBy("media_id")
      },
      Some("WITH m AS (SELECT unnest(generate_series(0, 999)) AS media_id), " +
        "b AS (SELECT media_id, " +
        "CASE media_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind, " +
        "substr(sha256(CAST(media_id AS VARCHAR)), 1, 33) AS s FROM m), " +
        "e AS (SELECT media_id, kind, s, unnest(generate_series(1, 33)) AS p FROM b) " +
        "SELECT media_id, kind, " +
        "round(sum(CASE WHEN (p - 1) % 8 = 0 THEN ascii(substr(s, p, 1)) / 255.0 END), 4) AS f0, " +
        "round(sum(CASE WHEN (p - 1) % 8 = 1 THEN ascii(substr(s, p, 1)) / 255.0 END), 4) AS f1 " +
        "FROM e GROUP BY media_id, kind ORDER BY media_id")),

    // Resize → feature-extract composition over image rows: both codec
    // stubs are deterministic byte arithmetic over the sha256-hex blob,
    // so the oracle reproduces the resized features exactly (resize =
    // nearest-neighbor byte pick at floor(p·src/dst), features = bucket
    // sums / 255).
    Q("x_resize_features",
      (s, d) => {
        val images = Multimodal.syntheticMedia(s, 300).filter(col("kind") === "image")
        Multimodal.extractFeatures(Multimodal.resizeImages(images, 4, 4), dim = 4)
          .select(col("media_id"),
            round(element_at(col("features"), 1).cast("double"), 4).as("f0"),
            round(element_at(col("features"), 2).cast("double"), 4).as("f1"))
          .orderBy("media_id")
      },
      Some("WITH m AS (SELECT unnest(generate_series(0, 299)) AS media_id), " +
        "i AS (SELECT media_id, substr(sha256(CAST(media_id AS VARCHAR)), 1, 33) AS s " +
        "FROM m WHERE media_id % 3 = 0), " +
        "e AS (SELECT media_id, s, unnest(generate_series(0, 15)) AS p FROM i), " +
        "b AS (SELECT media_id, p % 4 AS k, " +
        "ascii(substr(s, CAST(p * 33 // 16 AS INT) + 1, 1)) AS byte FROM e) " +
        "SELECT media_id, " +
        "round(sum(CASE WHEN k = 0 THEN byte / 255.0 END), 4) AS f0, " +
        "round(sum(CASE WHEN k = 1 THEN byte / 255.0 END), 4) AS f1 " +
        "FROM b GROUP BY media_id ORDER BY media_id")),

    // Multimodal frame sampling: video rows → sampled frame indexes. The
    // synthetic table is pure arithmetic (kind = video when id%3 = 2,
    // n_frames = id%100+1), so the oracle reproduces it exactly.
    Q("x_frame_sample",
      (s, d) => Multimodal.sampleFrames(Multimodal.syntheticMedia(s, 300), stride = 10)
        .select(col("media_id"), col("frame_idx").cast("long").as("frame_idx"))
        .orderBy("media_id", "frame_idx"),
      Some("WITH m AS (SELECT unnest(generate_series(0, 299)) AS media_id), " +
        "v AS (SELECT media_id, media_id % 100 + 1 AS nf FROM m WHERE media_id % 3 = 2) " +
        "SELECT media_id, unnest(generate_series(0, CAST(nf - 1 AS BIGINT), 10)) AS frame_idx " +
        "FROM v ORDER BY media_id, frame_idx"))
  )
}
