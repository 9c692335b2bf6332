package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables._
import graft.ops.Exact.davg
import graft.text.{Packing, TextOps}
import graft.dedup.Dedup
import graft.functions.MinHashFamily
import graft.sketch.Sketch
import graft.sim.Similarity
import graft.multimodal.Multimodal

/** Training-data-pipeline batch over the `documents` and `embeddings`
  * tables: text analysis, deduplication, similarity search, multimodal
  * plumbing. SQL-expressible ops carry DuckDB oracles with expression
  * shapes mirrored exactly (same association order, integral division,
  * decimal-exact sums) so doubles compare bit-for-bit; the
  * approximate/hash-seeded paths (MinHash bands, SimHash, sign-LSH ANN)
  * register oracle-less and are property-tested in TextDedupSpec.
  *
  * Scale notes: every text scoring query is a pure scan projection (no
  * shuffle); dedup shuffles 16-byte fingerprints; candidate generation for
  * near-dup/ANN is a bucketed equi-join, never a cross product.
  */
object Text {

  /** Stopword list used by the quality score (shared with the oracles). */
  val stops: Seq[String] = Seq("the", "a", "of", "and", "to", "is")

  private val stopsSql = stops.map(s => s"'$s'").mkString("[", ", ", "]")

  /** Read a session-warehouse table a BUILDER query writes as a side
    * effect (the read-only q210–q212 twins). `SparkEntry.queries` is an
    * unordered Map, so any consumer iterating it out of registration
    * order — or a name-filtered run naming only a twin — would hit a
    * generic TABLE_OR_VIEW_NOT_FOUND here; rethrow naming the builder
    * that must run first instead (ADVICE r19).
    */
  private[graft] def builderTable(s: org.apache.spark.sql.SparkSession,
                                  table: String, builder: String):
      org.apache.spark.sql.DataFrame =
    try s.table(table)
    catch {
      case e: org.apache.spark.sql.AnalysisException =>
        throw new IllegalStateException(
          s"warehouse table `$table` not found: run its builder query " +
            s"`$builder` first in this session (read-only index twins " +
            "depend on registration order — include the builder in any " +
            "name-filtered Verify/Bench run)", e)
    }

  /** Decimal-exact dot product fragment for the DuckDB oracle: mirrors
    * [[Similarity.dotExact]] (per-term DECIMAL(38,18) capture, exact sum,
    * one final double rounding).
    */
  private def dotSql(a: String, b: String): String =
    s"CAST((SELECT SUM(CAST(CAST($a[i+1] AS DOUBLE) * CAST($b[i+1] AS DOUBLE) AS DECIMAL(38,18))) FROM range(64) t(i)) AS DOUBLE)"

  /** See [[OracleSql.md5Hash64Sql]] (shared across query files). */
  private def md5Hash64Sql(keys: String, hexExpr: String, from: String,
                           out: String): String =
    OracleSql.md5Hash64Sql(keys, hexExpr, from, out)

  /** The full-coverage exact-search oracle shared by the persisted-index
    * builders (q203/q204/q208) and their read-only from-index twins
    * (q210/q211/q212): exact cosine top-5 for the ≤ 10-row query batch
    * over the whole corpus — at full coverage every one of those paths
    * must produce exactly this, whatever tables it read.
    */
  private lazy val exactAnnTop5Sql: String =
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
      |  c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
      |  scored AS (
      |    SELECT query_id, neighbor_id,
      |      ${dotSql("qv", "cv")}
      |      / (SQRT(${dotSql("qv", "qv")}) * SQRT(${dotSql("cv", "cv")})) AS cosine
      |    FROM q CROSS JOIN c WHERE neighbor_id <> query_id)
      |SELECT query_id, CAST(rnk AS BIGINT) AS rnk, neighbor_id,
      |  CAST(CAST(cosine AS DECIMAL(18,9)) AS DOUBLE) AS cosine FROM (
      |  SELECT query_id, neighbor_id, cosine,
      |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
      |  FROM scored)
      |WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin

  /** [[graft.text.TextOps.qualityScore]] replay (q154/q158): the
    * length/stopword/symbol-ratio blend as one scalar expression over a
    * `text` column — every term is a fixed association of correctly-
    * rounded double ops over engine-identical integers, so the score
    * (and any threshold on it) is bit-exact cross-engine.
    */
  private lazy val qualitySql: String =
    s"""least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.4
      |    + least(CASE WHEN len(string_split_regex(trim(lower(text)), '\\s+')) > 0
      |        THEN CAST(len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
      |               x -> list_contains($stopsSql, x))) AS DOUBLE)
      |             / len(string_split_regex(trim(lower(text)), '\\s+'))
      |        ELSE 0.0 END * 5.0, 1.0) * 0.3
      |    + greatest(0.0, 1.0 - (CASE WHEN length(text) > 0
      |        THEN CAST(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE) / length(text)
      |        ELSE 0.0 END) * 4.0) * 0.3""".stripMargin

  /** MinHash→LSH→verify→transitive-closure oracle CTE chain
    * (q102/q154/q158): shingles → md5-64 hashes → 16-hash signatures →
    * 4 banded keys → candidate pairs → exact-Jaccard verify at 0.5 →
    * symmetric edges → recursive closure → `comp(id, group_id)`.
    * `from` is the source relation (a table or an upstream CTE with
    * doc_id + text). Callers prepend `WITH RECURSIVE` and append their
    * select.
    */
  private def minhashGroupsSql(from: String = "documents"): String =
    s"""toks AS (
      |  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t FROM $from),
      |shl AS (
      |  SELECT doc_id, CASE WHEN len(t) >= 3 THEN
      |      list_distinct(list_transform(range(1, len(t)-1), i -> array_to_string(t[i:i+2], ' ')))
      |    ELSE [array_to_string(t, ' ')] END AS shs
      |  FROM toks WHERE t IS NOT NULL),
      |sh AS (SELECT doc_id, unnest(shs) AS s FROM shl),
      |hv AS (SELECT * FROM ${md5Hash64Sql("doc_id", "md5(s)", "sh", "h")}),
      |cs AS (SELECT * FROM ${md5Hash64Sql("i", "md5('graft-minhash#' || i)", "range(16) t(i)", "c")}),
      |sig AS (SELECT doc_id, i, MIN(xor(h, c)) AS minhash
      |  FROM hv CROSS JOIN cs GROUP BY 1, 2),
      |bnd AS (SELECT doc_id, CAST(FLOOR(i / 4) AS BIGINT) AS band,
      |    array_to_string(list(CAST(minhash AS VARCHAR) ORDER BY i), ',') AS key
      |  FROM sig GROUP BY 1, 2),
      |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM bnd a JOIN bnd b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
      |cid AS (SELECT DISTINCT id FROM
      |  (SELECT id_a AS id FROM cand UNION ALL SELECT id_b FROM cand)),
      |shc AS (SELECT doc_id, s FROM sh JOIN cid ON cid.id = sh.doc_id),
      |sizes AS (SELECT doc_id, COUNT(*) AS nsh FROM shc GROUP BY 1),
      |common AS (SELECT c.id_a, c.id_b, COUNT(*) AS n_common
      |  FROM cand c JOIN shc a ON a.doc_id = c.id_a
      |  JOIN shc b ON b.doc_id = c.id_b AND b.s = a.s GROUP BY 1, 2),
      |dups AS (SELECT m.id_a, m.id_b
      |  FROM common m JOIN sizes sa ON sa.doc_id = m.id_a
      |  JOIN sizes sb ON sb.doc_id = m.id_b
      |  WHERE CAST(m.n_common AS DOUBLE) / (sa.nsh + sb.nsh - m.n_common) >= 0.5),
      |edges AS (SELECT id_a AS src, id_b AS dst FROM dups
      |  UNION ALL SELECT id_b, id_a FROM dups),
      |reach(id, lbl) AS (
      |  SELECT src, src FROM edges
      |  UNION
      |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id),
      |comp AS (SELECT id, MIN(lbl) AS group_id FROM reach GROUP BY id)""".stripMargin

  /** BM25 oracle CTE chain (q119/q153): `tk` (filtered tokens) → `d`
    * (per-doc length + per-term tf) → `st` (corpus stats) → `sc`
    * (per-doc fixed-association score). Returns the CTE list WITHOUT
    * the `WITH` keyword; callers append their ranking select.
    */
  /** Shared CTE chain of the n-gram-LM fluency protocol
    * (q195/q196 at n = 2, q197 at n = 3): salted split hash, alpha
    * tokenization, n-gram slices, train counts over (n−1)-token
    * contexts, add-one probabilities, per-doc grid sums — ends at
    * `per (doc_id, n, nu, ps)` plus `uu (doc_id, u)` for the split.
    * Gram strings join space-free ^[a-z]+$ tokens with ' ', so the
    * context prefix/successor split below is unambiguous at any n.
    */
  private def fluencyPerDocSql(n: Int): String = {
    val ctx = s"array_to_string((string_split(bg, ' '))[1:${n - 1}], ' ')"
    val ctxD = s"array_to_string((string_split(d.bg, ' '))[1:${n - 1}], ' ')"
    s"""toks AS (
      |  SELECT doc_id, list_filter(string_split_regex(trim(lower(text)), '\\s+'),
      |      t -> regexp_matches(t, '^[a-z]+$$')) AS t
      |  FROM documents),
      |hv AS (SELECT * FROM ${md5Hash64Sql("doc_id",
           "md5(CAST(doc_id AS VARCHAR) || '#lm')", "documents", "h")}),
      |uu AS (SELECT doc_id,
      |    (CAST(h AS DOUBLE) + 9.223372036854776e18)
      |      / 1.8446744073709552e19 AS u
      |  FROM hv),
      |shl AS (SELECT doc_id, CASE WHEN len(t) >= $n THEN
      |      list_transform(range(1, len(t) - ${n - 2}),
      |                     i -> array_to_string(t[i:i+${n - 1}], ' '))
      |    ELSE []::VARCHAR[] END AS bgs FROM toks),
      |bgo AS (SELECT doc_id, unnest(bgs) AS bg FROM shl),
      |tr AS (SELECT b.doc_id, b.bg FROM bgo b JOIN uu USING (doc_id)
      |  WHERE u < CAST(0.8 AS DOUBLE)),
      |cuv AS (SELECT bg, COUNT(*) AS c_uv FROM tr GROUP BY 1),
      |cu AS (SELECT $ctx AS bg_u, SUM(c_uv) AS c_u
      |  FROM cuv GROUP BY 1),
      |vv AS (SELECT COUNT(DISTINCT split_part(bg, ' ', $n)) AS V FROM tr),
      |pb AS (SELECT d.bg, cuv.bg IS NULL AS unseen,
      |    CAST(COALESCE(cuv.c_uv, 0) + 1 AS DOUBLE)
      |      / CAST(COALESCE(cu.c_u, 0) + GREATEST(vv.V, 1) AS DOUBLE) AS p
      |  FROM (SELECT DISTINCT bg FROM bgo) d
      |  LEFT JOIN cuv USING (bg)
      |  LEFT JOIN cu ON cu.bg_u = $ctxD
      |  CROSS JOIN vv),
      |per AS (SELECT o.doc_id, COUNT(*) AS n,
      |    COUNT(*) FILTER (WHERE pb.unseen) AS nu,
      |    SUM(CAST(ROUND(pb.p * 1000000000000.0, 0) AS DECIMAL(38,0))) AS ps
      |  FROM bgo o JOIN pb USING (bg) GROUP BY 1)""".stripMargin
  }

  /** Shared CTE chain of the NB quality-classifier protocol
    * (q199/q200): salted split hash, alpha tokenization, train-side
    * per-token class counts, the log-free add-one posterior as one
    * double division of exact HUGEINT products (the engine carries
    * them as DECIMAL(38,0) — both exact integers far past 2⁶³), and
    * the per-doc 1e12-grid sums — ends at `sc (doc_id, split, label,
    * n_tokens, n_unseen, score)`. Positives are the `srcs` reference
    * sources (the GPT-3 "trusted corpus" side of the labels).
    */
  private def nbPerDocSql(srcs: Seq[String], trainFrac: Double): String = {
    val srcList = srcs.map(s => s"'$s'").mkString(", ")
    s"""toks AS (
      |  SELECT doc_id, list_filter(string_split_regex(trim(lower(text)), '\\s+'),
      |      t -> regexp_matches(t, '^[a-z]+$$')) AS t
      |  FROM documents),
      |hv AS (SELECT * FROM ${md5Hash64Sql("doc_id",
           "md5(CAST(doc_id AS VARCHAR) || '#nb')", "documents", "h")}),
      |uu AS (SELECT doc_id,
      |    (CAST(h AS DOUBLE) + 9.223372036854776e18)
      |      / 1.8446744073709552e19 AS u
      |  FROM hv),
      |lb AS (SELECT doc_id, source IN ($srcList) AS pos FROM documents),
      |occ AS (SELECT doc_id, unnest(t) AS tok FROM toks),
      |tr AS (SELECT o.doc_id, o.tok, lb.pos
      |  FROM occ o JOIN uu USING (doc_id) JOIN lb USING (doc_id)
      |  WHERE u < CAST($trainFrac AS DOUBLE)),
      |cnt AS (SELECT tok, COUNT(*) FILTER (WHERE pos) AS c_pos,
      |    COUNT(*) FILTER (WHERE NOT pos) AS c_neg
      |  FROM tr GROUP BY 1),
      |tot AS (SELECT COALESCE(SUM(c_pos), 0) AS n_pos,
      |    COALESCE(SUM(c_neg), 0) AS n_neg, COUNT(*) AS V FROM cnt),
      |pr AS (SELECT d.tok, cnt.tok IS NULL AS unseen,
      |    CAST(CAST(COALESCE(cnt.c_pos, 0) + 1 AS HUGEINT)
      |           * (tot.n_neg + GREATEST(tot.V, 1)) AS DOUBLE)
      |      / CAST(CAST(COALESCE(cnt.c_pos, 0) + 1 AS HUGEINT)
      |           * (tot.n_neg + GREATEST(tot.V, 1))
      |         + CAST(COALESCE(cnt.c_neg, 0) + 1 AS HUGEINT)
      |           * (tot.n_pos + GREATEST(tot.V, 1)) AS DOUBLE) AS r
      |  FROM (SELECT DISTINCT tok FROM occ) d
      |  LEFT JOIN cnt USING (tok) CROSS JOIN tot),
      |per AS (SELECT o.doc_id, COUNT(*) AS n,
      |    COUNT(*) FILTER (WHERE pr.unseen) AS nu,
      |    SUM(CAST(ROUND(pr.r * 1000000000000.0, 0) AS DECIMAL(38,0))) AS rs
      |  FROM occ o JOIN pr USING (tok) GROUP BY 1),
      |sc AS (SELECT d.doc_id,
      |    CASE WHEN uu.u < CAST($trainFrac AS DOUBLE)
      |      THEN 'train' ELSE 'held' END AS split,
      |    CASE WHEN lb.pos THEN 'ref' ELSE 'other' END AS label,
      |    CAST(COALESCE(per.n, 0) AS BIGINT) AS n_tokens,
      |    CAST(COALESCE(per.nu, 0) AS BIGINT) AS n_unseen,
      |    CASE WHEN COALESCE(per.n, 0) > 0
      |      THEN CAST(per.rs AS DOUBLE) / 1000000000000.0 / CAST(per.n AS DOUBLE)
      |      ELSE CAST(0.5 AS DOUBLE) END AS score
      |  FROM documents d JOIN uu USING (doc_id) JOIN lb USING (doc_id)
      |  LEFT JOIN per USING (doc_id))""".stripMargin
  }

  private def bm25CoreSql(terms: Seq[String]): String = {
    val tfCols = terms.map(t =>
      s"CAST(len(list_filter(toks, x -> x = '$t')) AS BIGINT) AS tf_$t").mkString(",\n    ")
    val dfAggs = terms.map(t =>
      s"SUM(CASE WHEN tf_$t > 0 THEN 1 ELSE 0 END) AS df_$t").mkString(", ")
    def comp(t: String) =
      s"""((CAST(n - df_$t AS DOUBLE) + 0.5) / (CAST(df_$t AS DOUBLE) + 0.5))
         | * (CAST(tf_$t AS DOUBLE) * ${1.2 + 1}) / (CAST(tf_$t AS DOUBLE)
         | + ${1.2} * (${1 - 0.75} + ${0.75} * (CAST(dl AS DOUBLE)
         | / (CAST(sumdl AS DOUBLE) / n))))""".stripMargin.replaceAll("\n\\s*\\|?", " ")
    val score = terms.map(comp).reduceLeft((a, b) => s"($a + $b)")
    s"""tk AS (SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '\\s+'),
      |                x -> regexp_matches(x, '^[a-z]+$$')) AS toks
      |  FROM documents),
      |d AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
      |    $tfCols
      |  FROM tk),
      |st AS (SELECT COUNT(*) AS n, SUM(dl) AS sumdl, $dfAggs FROM d),
      |sc AS (SELECT doc_id, dl, ${terms.map("tf_" + _).mkString(", ")},
      |    $score AS score
      |  FROM d CROSS JOIN st)""".stripMargin
  }

  /** q158's DAG over `docs` (doc_id, text). `nearDupDriverLimit` exists
    * for tests only: it is passed on as [[Dedup.minhashNearDups]]'
    * `driverLimit`, which tests lower to 0 to run q158 on the distributed
    * route. q158 itself takes the default, and no caller should tune it.
    */
  private[graft] def curationCapstone(docs: org.apache.spark.sql.DataFrame,
      nearDupDriverLimit: Int = Dedup.DriverLimit): org.apache.spark.sql.DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    // round 20 (guide §2.3 project-early / §3.3 common-subtree note):
    // the old DAG referenced the gated quality scan four times (exact
    // dedup's agg + semi join, the keep-best quality attach, the
    // curated anti join's left side, the final summary), and Catalyst
    // replans — and re-RUNS — the documents scan + qualityScore
    // expression once per textual reference (only exchanges and
    // subqueries are reused, never scan subtrees). Fold EVERYTHING
    // the downstream stages need from text (quality, fingerprint,
    // token count) into ONE scan projection, exact-dedup it, and pin
    // the survivors as an id/metric frame — text itself is never
    // pinned or shuffled, so the pinned state is O(rows × ~50 B), the
    // fingerprint-frame regime the engine already pins everywhere.
    // Text is scanned three times per run: this pass, the signature
    // pass over the survivors (an id semi-join) and the shingle-set
    // pass over the candidate docs only. `exact` is the one pin: while
    // the documents scan holds up to Dedup.DriverLimit rows (and the
    // candidates as many pairs), the near-dup step counts the scan's
    // rows, collects the signatures once, bands and verifies on the
    // driver and returns a local relation, so the distributed route's
    // three pins (banded keys, candidates, shingle sets) do not run;
    // past that bound they do. The keep rule is min doc_id per
    // md5(text) among gated rows (rn=1 under orderBy doc_id ⟺ min
    // doc_id; the oracle's fpd/rn CTE replays it): the struct min
    // carries the winner's token count and quality along with its id,
    // so no self semi-join re-derives the winners. dupGroups returns a
    // materialized frame (a driver LocalRelation or its own pin), so
    // its output is not pinned again.
    val exact = graft.ops.Pin.pin(docs
      .select(col("doc_id"), md5(col("text")).as("__fp"),
        TextOps.tokenCount(col("text")).as("__ntok"),
        TextOps.qualityScore(col("text"), stops).as("quality"))
      .filter(col("quality") >= 0.45)
      .groupBy("__fp")
      .agg(min(struct(col("doc_id"), col("__ntok"), col("quality"))).as("__k"))
      .select(col("__k.doc_id").as("doc_id"), col("__fp"),
        col("__k.__ntok").as("__ntok"), col("__k.quality").as("quality")))
    val pairs = Dedup.minhashNearDups(
        docs.join(exact.select("doc_id"), Seq("doc_id"), "left_semi")
          .select("doc_id", "text"),
        "doc_id", "text", MinHashFamily.Md5, nHashes = 16, bands = 4,
        shingleSize = 3, driverLimit = nearDupDriverLimit)
      .filter(col("jaccard") >= 0.5)
      .select("id_a", "id_b")
    val groups = Dedup.dupGroups(pairs)
      .select(col("group_id"), col("id").as("doc_id"))
    val wg = w.partitionBy("group_id").orderBy(col("quality").desc, col("doc_id"))
    val losers = groups.join(exact.select("doc_id", "quality"), "doc_id")
      .withColumn("keep_id", first(col("doc_id")).over(wg))
      .filter(col("doc_id") =!= col("keep_id"))
      .select("doc_id")
    // no broadcast hint on `losers`: its size is the near-dup loser
    // population — data-dependent, unbounded on a crawl-shaped corpus;
    // AQE picks broadcast-vs-shuffle from the actual runtime size
    val curated = exact.join(losers, Seq("doc_id"), "left_anti")
    // every curated row is its fingerprint's only survivor, so a plain
    // count of __fp is the distinct count (nulls excluded alike)
    graft.ops.Splits.hashSplit(curated.select("doc_id", "__fp", "__ntok"),
        "doc_id", "#split", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__ntok")).as("sum_tokens"),
        count(col("__fp")).as("n_fp"),
        min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
      .orderBy("split")
  }

  val all: Seq[Q] = Seq(

    // ---- per-document token statistics (scan-projection only) ----
    Q("q36_doc_stats",
      s"""SELECT doc_id,
        |  CAST(len(string_split_regex(trim(lower(text)), '\\s+')) AS BIGINT) AS n_tokens,
        |  CAST(list_sum(list_transform(regexp_extract_all(lower(text), '[a-z]+'),
        |         w -> CAST(CEIL(length(w) / 4.0) AS BIGINT)))
        |    + length(regexp_replace(text, '[^0-9]', '', 'g'))
        |    + length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS BIGINT) AS n_bpeish,
        |  CASE WHEN length(text) > 0
        |       THEN CAST(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE) / length(text)
        |       ELSE 0.0 END AS punct_ratio,
        |  CASE WHEN len(string_split_regex(trim(lower(text)), '\\s+')) > 0
        |       THEN CAST(list_sum(list_transform(string_split_regex(trim(lower(text)), '\\s+'),
        |              x -> length(x))) AS DOUBLE)
        |            / len(string_split_regex(trim(lower(text)), '\\s+'))
        |       ELSE 0.0 END AS mean_tok_len
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      documents(s, dir).select(
        col("doc_id"),
        TextOps.tokenCount(col("text")).as("n_tokens"),
        TextOps.bpeishTokenCount(col("text")).as("n_bpeish"),
        TextOps.punctRatio(col("text")).as("punct_ratio"),
        TextOps.meanTokenLen(col("text")).as("mean_tok_len"))
        .orderBy("doc_id")
    },

    // ---- marker-based language identification ----
    Q("q37_lang_id", {
      val scoreCols = TextOps.langMarkers.map { case (lang, markers) =>
        val arr = markers.map(m => s"'$m'").mkString("[", ", ", "]")
        s"len(list_filter(toks, x -> list_contains($arr, x))) AS s_$lang"
      }.mkString(",\n        |    ")
      val langs = TextOps.langMarkers.map(_._1)
      val best = s"greatest(${langs.map("s_" + _).mkString(", ")})"
      val cases = langs.map(l => s"WHEN s_$l = $best AND $best > 0 THEN '$l'").mkString("\n        |         ")
      s"""WITH t AS (SELECT doc_id, lang,
        |    string_split_regex(trim(lower(text)), '\\s+') AS toks FROM documents),
        |  s AS (SELECT doc_id, lang,
        |    $scoreCols
        |  FROM t)
        |SELECT doc_id, lang,
        |  CASE $cases
        |       ELSE 'und' END AS pred_lang
        |FROM s ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      documents(s, dir).select(
        col("doc_id"), col("lang"),
        TextOps.langId(col("text")).as("pred_lang"))
        .orderBy("doc_id")
    },

    // ---- heuristic quality scoring (same association order as oracle) ----
    Q("q38_quality_score",
      s"""WITH t AS (SELECT doc_id, text,
        |    string_split_regex(trim(lower(text)), '\\s+') AS toks FROM documents),
        |  r AS (SELECT doc_id,
        |    least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) AS len_score,
        |    CASE WHEN len(toks) > 0
        |         THEN CAST(len(list_filter(toks, x -> list_contains($stopsSql, x))) AS DOUBLE) / len(toks)
        |         ELSE 0.0 END AS stop_ratio,
        |    CASE WHEN length(text) > 0
        |         THEN CAST(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE) / length(text)
        |         ELSE 0.0 END AS punct_ratio
        |  FROM t)
        |SELECT doc_id,
        |  len_score * 0.4 + least(stop_ratio * 5.0, 1.0) * 0.3
        |    + greatest(0.0, 1.0 - punct_ratio * 4.0) * 0.3 AS q_score
        |FROM r ORDER BY doc_id""".stripMargin) { (s, dir) =>
      documents(s, dir).select(
        col("doc_id"),
        TextOps.qualityScore(col("text"), stops).as("q_score"))
        .orderBy("doc_id")
    },

    // ---- exact dedup groups (md5 fingerprint hash-groupBy) ----
    Q("q39_exact_dedup",
      """SELECT md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp,
        |  min(doc_id) AS keep_id, count(*) AS n_docs
        |FROM documents GROUP BY 1 ORDER BY fp""".stripMargin) { (s, dir) =>
      Dedup.exactGroups(documents(s, dir), "doc_id", "text").orderBy("fp")
    },

    // ---- per-language corpus totals ----
    Q("q40_lang_token_totals",
      """SELECT lang, count(*) AS n_docs,
        |  CAST(SUM(len(string_split_regex(trim(lower(text)), '\s+'))) AS BIGINT) AS sum_tokens,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
      documents(s, dir)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(TextOps.tokenCount(col("text"))).as("sum_tokens"),
          sum(col("n_chars")).as("sum_chars"))
        .orderBy("lang")
    },

    // ---- exact cosine top-k (brute-force baseline over embeddings) ----
    Q("q41_cosine_topk",
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 20),
        |  c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
        |  scored AS (
        |    SELECT query_id, neighbor_id,
        |      ${dotSql("qv", "cv")}
        |      / (SQRT(${dotSql("qv", "qv")}) * SQRT(${dotSql("cv", "cv")})) AS cosine
        |    FROM q CROSS JOIN c WHERE neighbor_id <> query_id)
        |SELECT query_id, CAST(rnk AS BIGINT) AS rnk, neighbor_id,
        |  CAST(CAST(cosine AS DECIMAL(18,9)) AS DOUBLE) AS cosine FROM (
        |  SELECT query_id, neighbor_id, cosine,
        |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
        |  FROM scored)
        |WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin) { (s, dir) =>
      // Cosine is snapped to DECIMAL(18,9) before output: DuckDB's
      // decimal(·,18)->double cast rounds twice (int128->double, then /1e18)
      // and can be one ulp off Spark's correctly-rounded cast; k/1e9 with
      // k < 2^53 converts exactly-rounded in both engines.
      val emb = embeddings(s, dir)
      Similarity.cosineTopK(emb, emb.filter(col("vec_id") < 20), "vec_id", "embedding", 5)
        .withColumn("cosine",
          col("cosine").cast(org.apache.spark.sql.types.DecimalType(18, 9)).cast("double"))
        .orderBy("query_id", "rnk")
    },

    // ---- embedding norm stats per label (decimal-exact mean) ----
    Q("q42_embedding_norms",
      s"""WITH n AS (SELECT label,
        |    SQRT(${dotSql("embedding", "embedding")}) AS nrm
        |  FROM embeddings)
        |SELECT label, count(*) AS n,
        |  CAST(SUM(CAST(nrm AS DECIMAL(30,6))) AS DOUBLE) / COUNT(nrm) AS avg_norm
        |FROM n GROUP BY label ORDER BY label""".stripMargin) { (s, dir) =>
      embeddings(s, dir)
        .withColumn("nrm", Similarity.normExact(col("embedding")))
        .groupBy("label")
        .agg(count(lit(1)).as("n"), davg(col("nrm")).as("avg_norm"))
        .orderBy("label")
    },

    // ---- SimHash per document (md5 token hash => oracle-checkable) ----
    // The production near-dup path keeps xxhash64 tokens (Spark-only, ~4×
    // faster); this registered query votes over the md5-derived 64-bit
    // token hash so DuckDB reproduces the exact signature: hi/lo 8-hex
    // slices assembled through HUGEINT (wrap to signed 64), per-bit ±1
    // majority vote, disjoint-power sum.
    Q("q43_simhash", {
      val powers = (0 until 64).map(b => s"($b, ${1L << b})").mkString(", ")
      s"""WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
        |  FROM documents),
        |h AS (
        |  SELECT doc_id,
        |    CAST(CASE WHEN hu >= 9223372036854775808::HUGEINT
        |         THEN hu - 18446744073709551616::HUGEINT ELSE hu END AS BIGINT) AS h
        |  FROM (SELECT doc_id,
        |      CAST(CAST(('0x'||substr(md5(tok),1,8)) AS BIGINT) AS HUGEINT) * 4294967296::HUGEINT
        |        + CAST(CAST(('0x'||substr(md5(tok),9,8)) AS BIGINT) AS HUGEINT) AS hu
        |    FROM toks)),
        |bits AS (SELECT b, p FROM (VALUES $powers) AS t(b, p)),
        |votes AS (
        |  SELECT doc_id, b, p,
        |    SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
        |  FROM h CROSS JOIN bits GROUP BY 1, 2, 3),
        |sig AS (SELECT doc_id, CAST(SUM(CASE WHEN v > 0 THEN p ELSE 0 END) AS BIGINT) AS simhash
        |  FROM votes GROUP BY 1)
        |SELECT d.doc_id, COALESCE(s.simhash, 0) AS simhash
        |FROM documents d LEFT JOIN sig s USING (doc_id) ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      Dedup.simhashTable(documents(s, dir), "doc_id", "text",
        tokenHash = Dedup.md5Hash64)
        .orderBy("doc_id")
    },

    // ---- exact n-gram Jaccard similarity join (shingle equi-join) ----
    Q("q77_jaccard_pairs",
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t FROM documents),
        |shl AS (
        |  SELECT doc_id, CASE WHEN len(t) >= 3 THEN
        |      list_distinct(list_transform(range(1, len(t)-1), i -> array_to_string(t[i:i+2], ' ')))
        |    ELSE [array_to_string(t, ' ')] END AS shs
        |  FROM toks WHERE t IS NOT NULL),
        |sh AS (SELECT DISTINCT doc_id, unnest(shs) AS s FROM shl),
        |sizes AS (SELECT doc_id, COUNT(*) AS nsh FROM sh GROUP BY 1),
        |common AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1,2)
        |SELECT id_a, id_b, CAST(n_common AS BIGINT) AS n_common,
        |  CAST(sa.nsh AS BIGINT) AS n_a, CAST(sb.nsh AS BIGINT) AS n_b,
        |  CAST(n_common AS DOUBLE) / (sa.nsh + sb.nsh - n_common) AS jaccard
        |FROM common JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
        |WHERE CAST(n_common AS DOUBLE) / (sa.nsh + sb.nsh - n_common) >= 0.5
        |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
      Dedup.jaccardPairs(documents(s, dir), "doc_id", "text",
        shingleSize = 3, threshold = 0.5)
        .orderBy("id_a", "id_b")
    },

    // ---- MinHash signatures (md5 family => oracle-checkable) ----
    // Same signature algebra as the production xxhash64 family; the salted
    // md5 hash lets DuckDB reproduce every min bit-for-bit. Long form
    // (doc, hash index, min) keeps the output sortable/hashable.
    Q("q79_minhash_sigs",
      s"""WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t FROM documents),
        |shl AS (
        |  SELECT doc_id, CASE WHEN len(t) >= 3 THEN
        |      list_distinct(list_transform(range(1, len(t)-1), i -> array_to_string(t[i:i+2], ' ')))
        |    ELSE [array_to_string(t, ' ')] END AS shs
        |  FROM toks WHERE t IS NOT NULL),
        |sh AS (SELECT doc_id, unnest(shs) AS s FROM shl),
        |hv AS (SELECT * FROM ${md5Hash64Sql("doc_id", "md5(s)", "sh", "h")}),
        |cs AS (SELECT * FROM ${md5Hash64Sql("i", "md5('graft-minhash#' || i)", "range(16) t(i)", "c")}),
        |sig AS (SELECT doc_id, i, MIN(xor(h, c)) AS minhash
        |  FROM hv CROSS JOIN cs GROUP BY 1, 2)
        |SELECT d.doc_id, t.i AS h_idx, s.minhash
        |FROM documents d CROSS JOIN range(16) t(i)
        |LEFT JOIN sig s ON s.doc_id = d.doc_id AND s.i = t.i
        |ORDER BY d.doc_id, t.i""".stripMargin) { (s, dir) =>
      Dedup.minhashTableMd5(documents(s, dir), "doc_id", "text",
        nHashes = 16, shingleSize = 3)
        .orderBy("doc_id", "h_idx")
    },

    // ---- banded-LSH near-dup pipeline, oracle-checked end to end ----
    // Signatures (md5+xor family) -> band keys -> candidate pairs ->
    // exact Jaccard verify restricted to candidates. Hash-checks the whole
    // LSH DAG, which q44 runs under the xxhash64 family with a bucket cap.
    Q("q80_lsh_neardups",
      s"""WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t FROM documents),
        |shl AS (
        |  SELECT doc_id, CASE WHEN len(t) >= 3 THEN
        |      list_distinct(list_transform(range(1, len(t)-1), i -> array_to_string(t[i:i+2], ' ')))
        |    ELSE [array_to_string(t, ' ')] END AS shs
        |  FROM toks WHERE t IS NOT NULL),
        |sh AS (SELECT doc_id, unnest(shs) AS s FROM shl),
        |hv AS (SELECT * FROM ${md5Hash64Sql("doc_id", "md5(s)", "sh", "h")}),
        |cs AS (SELECT * FROM ${md5Hash64Sql("i", "md5('graft-minhash#' || i)", "range(16) t(i)", "c")}),
        |sig AS (SELECT doc_id, i, MIN(xor(h, c)) AS minhash
        |  FROM hv CROSS JOIN cs GROUP BY 1, 2),
        |bnd AS (SELECT doc_id, CAST(FLOOR(i / 4) AS BIGINT) AS band,
        |    array_to_string(list(CAST(minhash AS VARCHAR) ORDER BY i), ',') AS key
        |  FROM sig GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM bnd a JOIN bnd b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
        |cid AS (SELECT DISTINCT id FROM
        |  (SELECT id_a AS id FROM cand UNION ALL SELECT id_b FROM cand)),
        |shc AS (SELECT doc_id, s FROM sh JOIN cid ON cid.id = sh.doc_id),
        |sizes AS (SELECT doc_id, COUNT(*) AS nsh FROM shc GROUP BY 1),
        |common AS (SELECT c.id_a, c.id_b, COUNT(*) AS n_common
        |  FROM cand c JOIN shc a ON a.doc_id = c.id_a
        |  JOIN shc b ON b.doc_id = c.id_b AND b.s = a.s GROUP BY 1, 2)
        |SELECT m.id_a, m.id_b, CAST(m.n_common AS BIGINT) AS n_common,
        |  CAST(m.n_common AS DOUBLE) / (sa.nsh + sb.nsh - m.n_common) AS jaccard
        |FROM common m JOIN sizes sa ON sa.doc_id = m.id_a
        |JOIN sizes sb ON sb.doc_id = m.id_b
        |WHERE CAST(m.n_common AS DOUBLE) / (sa.nsh + sb.nsh - m.n_common) >= 0.5
        |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
      Dedup.minhashNearDups(documents(s, dir), "doc_id", "text", MinHashFamily.Md5,
        nHashes = 16, bands = 4, shingleSize = 3)
        .filter(col("jaccard") >= 0.5)
        .orderBy("id_a", "id_b")
    },

    // ---- MinHash+LSH near-dup scan summary (1-row aggregate) ----
    // q80's DAG under the Spark-only xxhash64 family: 64 hashes, 16
    // bands, hot buckets capped at 1000 members, every candidate counted.
    Q.noOracle("q44_minhash_neardup_stats") { (s, dir) =>
      val docs = documents(s, dir)
      Dedup.minhashNearDups(docs, "doc_id", "text", MinHashFamily.XxHash64,
          nHashes = 64, bands = 16, maxBucketSize = 1000)
        .agg(count(lit(1)).as("n_candidates"),
          count(when(col("jaccard") >= 0.7, 1)).as("n_dups_07"),
          coalesce(max(col("jaccard")), lit(0.0)).as("max_jaccard"))
    },

    // ---- SimHash near-dups, production hashing (bench-representative) ----
    // q43 pays the md5 oracle family so DuckDB can replay the signature;
    // this is the hot path a deployment runs: xxhash64 tokens, chunk
    // pigeonhole buckets, hamming verify. Oracle-less by design (engine
    // hash), recall/pigeonhole contracts covered in TextDedupSpec.
    Q.noOracle("q86_simhash_neardups") { (s, dir) =>
      Dedup.simhashNearDups(documents(s, dir), "doc_id", "text", maxDist = 6)
        .orderBy("id_a", "id_b")
    },

    // ---- sign-LSH approximate nearest neighbors (bucketed equi-join) ----
    Q.noOracle("q45_ann_topk") { (s, dir) =>
      val emb = embeddings(s, dir)
      Similarity.signLshTopK(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, dim = 64, bits = 6, tables = 4)
        .orderBy("query_id", "rnk")
    },

    // ---- per-doc top distinctive term (TF x rarity; exact rational) ----
    Q("q69_top_terms",
      """WITH toks AS (SELECT doc_id,
        |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
        |dfreq AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
        |scored AS (SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
        |    CAST(tf.tf AS DOUBLE) / dfreq.df AS score
        |  FROM tf JOIN dfreq USING (term))
        |SELECT doc_id, term AS top_term, CAST(tf AS BIGINT) AS tf,
        |  CAST(df AS BIGINT) AS df, score
        |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
        |        ORDER BY score DESC, term) AS rn FROM scored)
        |WHERE rn = 1 ORDER BY doc_id""".stripMargin) { (s, dir) =>
      // tf/df is an exact rational — identical doubles in both engines —
      // unlike ln-based tf-idf, where libm implementations differ by ulps.
      val toks = documents(s, dir)
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("term"))
      val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val dfreq = toks.groupBy("term")
        .agg(countDistinct(col("doc_id")).as("df"))
      val scored = tf.join(dfreq, "term")
        .withColumn("score", col("tf").cast("double") / col("df"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy(col("score").desc, col("term"))
      scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("doc_id"), col("term").as("top_term"),
          col("tf"), col("df"), col("score"))
        .orderBy("doc_id")
    },

    // ---- IVF approximate nearest neighbors (coarse-quantizer path) ----
    Q.noOracle("q66_ivf_ann") { (s, dir) =>
      val emb = embeddings(s, dir)
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, nCells = 16, nProbe = 4)
        .orderBy("query_id", "rnk")
    },

    // ---- IVF at full probe width == exact search: oracle-checkable ----
    // Same DAG as q66 (quantizer fit, cell assignment, candidate join,
    // exact re-rank) but probing every cell, so the result must equal the
    // brute-force oracle — this hash-checks the whole IVF plumbing.
    Q("q78_ivf_full_probe",
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
        |  c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
        |  scored AS (
        |    SELECT query_id, neighbor_id,
        |      ${dotSql("qv", "cv")}
        |      / (SQRT(${dotSql("qv", "qv")}) * SQRT(${dotSql("cv", "cv")})) AS cosine
        |    FROM q CROSS JOIN c WHERE neighbor_id <> query_id)
        |SELECT query_id, CAST(rnk AS BIGINT) AS rnk, neighbor_id,
        |  CAST(CAST(cosine AS DECIMAL(18,9)) AS DOUBLE) AS cosine FROM (
        |  SELECT query_id, neighbor_id, cosine,
        |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
        |  FROM scored)
        |WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin) { (s, dir) =>
      val emb = embeddings(s, dir)
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, nCells = 16, nProbe = 16)
        .withColumn("cosine",
          col("cosine").cast(org.apache.spark.sql.types.DecimalType(18, 9)).cast("double"))
        .orderBy("query_id", "rnk")
    },

    // ---- sign-LSH at full coverage == exact search: oracle-checkable ----
    // Same DAG as q45 (bucket explode, (table, bucket) equi-join, distinct
    // candidates, id-only shuffle, exact re-rank) but with bits = 0 every
    // row lands in one global bucket per table, so candidates cover all
    // pairs and the result must equal the brute-force oracle — this
    // hash-checks the whole sign-LSH plumbing (à la q78 for IVF).
    Q("q85_lsh_full_coverage",
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
        |  c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
        |  scored AS (
        |    SELECT query_id, neighbor_id,
        |      ${dotSql("qv", "cv")}
        |      / (SQRT(${dotSql("qv", "qv")}) * SQRT(${dotSql("cv", "cv")})) AS cosine
        |    FROM q CROSS JOIN c WHERE neighbor_id <> query_id)
        |SELECT query_id, CAST(rnk AS BIGINT) AS rnk, neighbor_id,
        |  CAST(CAST(cosine AS DECIMAL(18,9)) AS DOUBLE) AS cosine FROM (
        |  SELECT query_id, neighbor_id, cosine,
        |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
        |  FROM scored)
        |WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin) { (s, dir) =>
      val emb = embeddings(s, dir)
      Similarity.signLshTopK(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, dim = 64, bits = 0, tables = 2,
        maxBucketSize = Int.MaxValue)
        .withColumn("cosine",
          col("cosine").cast(org.apache.spark.sql.types.DecimalType(18, 9)).cast("double"))
        .orderBy("query_id", "rnk")
    },

    // ---- embedding-cosine near-dup scan summary (1-row aggregate) ----
    Q.noOracle("q67_cosine_neardup_stats") { (s, dir) =>
      Similarity.cosineNearDups(embeddings(s, dir), "vec_id", "embedding",
        threshold = 0.3, dim = 64, bits = 6, tables = 4)
        .agg(count(lit(1)).as("n_pairs"),
          coalesce(max(col("cosine")), lit(0.0)).as("max_cosine"),
          coalesce(min(col("cosine")), lit(0.0)).as("min_kept_cosine"))
    },

    // ---- cosine near-dups at full coverage == exact threshold join ----
    // Completes the equivalence-twin set (q78 IVF, q85 sign-LSH, q80
    // MinHash, q43 SimHash): with bits = 0 every row shares the one
    // bucket, candidates cover all pairs, and cosineNearDups must equal
    // the brute-force threshold join — hash-checking the candidate
    // dedup, double-dot prefilter, and exact-decimal scoring end to end.
    // Bounded to vec_id < 300 so the DuckDB oracle's all-pairs decimal
    // dot stays in q41-oracle cost territory.
    Q("q87_cosine_neardup_full",
      s"""WITH c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 300),
        |pairs AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    ${dotSql("a.embedding", "b.embedding")}
        |    / (SQRT(${dotSql("a.embedding", "a.embedding")})
        |       * SQRT(${dotSql("b.embedding", "b.embedding")})) AS cosine
        |  FROM c a JOIN c b ON a.vec_id < b.vec_id)
        |SELECT id_a, id_b,
        |  CAST(CAST(cosine AS DECIMAL(18,9)) AS DOUBLE) AS cosine
        |FROM pairs WHERE cosine >= 0.3
        |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
      Similarity.cosineNearDups(
        embeddings(s, dir).filter(col("vec_id") < 300), "vec_id", "embedding",
        threshold = 0.3, dim = 64, bits = 0, tables = 1,
        maxBucketSize = Int.MaxValue)
        .withColumn("cosine",
          col("cosine").cast(org.apache.spark.sql.types.DecimalType(18, 9)).cast("double"))
        .orderBy("id_a", "id_b")
    },

    // ---- multimodal metadata plumbing (blob header sniff, oracle-checked) ----
    Q("q46_multimodal_meta",
      """SELECT doc_id,
        |  CAST(16 + octet_length(encode(text)) % 64 AS INTEGER) AS width,
        |  CAST(16 + (octet_length(encode(text)) // 64) % 64 AS INTEGER) AS height,
        |  CAST(1 + octet_length(encode(text)) % 8 AS INTEGER) AS n_frames,
        |  CASE WHEN octet_length(encode(text)) % 3 = 0 THEN 'png'
        |       WHEN octet_length(encode(text)) % 3 = 1 THEN 'jpeg'
        |       ELSE 'webp' END AS format
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Multimodal.stubMeta(
        Multimodal.withBlob(documents(s, dir), "text", "blob"), "blob")
        .select("doc_id", "width", "height", "n_frames", "format")
        .orderBy("doc_id")
    },

    // ---- multimodal feature extraction (mapPartitions codec path) ----
    // Registered output is projected to sortable scalars: the check harness
    // sorts/hashes rows with pandas, which cannot order array<float> cells
    // (round-2 checker crash). The stub decode is one md5 of the blob xor
    // per-index md5 constants, each feature a dyadic rational (k/256) —
    // exact in float and double — so DuckDB reproduces the mapPartitions
    // output bit-for-bit. The full array is covered by TextDedupSpec.
    Q("q47_multimodal_features",
      s"""WITH hv AS (SELECT * FROM ${md5Hash64Sql("doc_id", "md5(coalesce(text, ''))", "documents", "h")}),
        |cs AS (SELECT * FROM ${md5Hash64Sql("j", "md5('graft-mm#' || j)", "range(16) t(j)", "c")}),
        |f AS (SELECT doc_id, j, CAST((xor(h, c) & 511) AS DOUBLE) / 256.0 AS feat
        |  FROM hv CROSS JOIN cs)
        |SELECT doc_id, CAST(16 AS INTEGER) AS dim,
        |  MAX(CASE WHEN j = 0 THEN feat END) AS f_first,
        |  MAX(CASE WHEN j = 15 THEN feat END) AS f_last,
        |  SUM(feat) AS f_sum
        |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val blobs = Multimodal.withBlob(documents(s, dir), "text", "blob")
      Multimodal.extractFeatures(blobs, "doc_id", "blob", featureDim = 16,
          decode = Multimodal.fakeDecode)
        .select(col("doc_id"),
          size(col("features")).as("dim"),
          element_at(col("features"), 1).cast("double").as("f_first"),
          element_at(col("features"), 16).cast("double").as("f_last"),
          aggregate(col("features"), lit(0.0),
            (acc, x) => acc + x.cast("double")).as("f_sum"))
        .orderBy("doc_id")
    },

    // ---- multimodal frame sampling (mapPartitions demux path, oracle) ----
    // the fixedFrames contract-checker slices the blob into 32-byte frames
    // and keeps every 2nd one; frames surface as hex strings (this
    // DuckDB's md5/substring are VARCHAR-only, but hex(blob) slicing is
    // byte-exact), so the whole explode/slice plumbing hash-checks.
    Q("q90_frame_sample",
      """WITH b AS (SELECT doc_id, hex(encode(text)) AS bh FROM documents),
        |ix AS (SELECT doc_id, bh,
        |    unnest(range(length(bh) // 64)) AS i FROM b),
        |f AS (SELECT doc_id, CAST(i AS INTEGER) AS frame_idx,
        |    substr(bh, CAST(i * 64 + 1 AS INTEGER), 64) AS frame_hex
        |  FROM ix WHERE i % 2 = 0)
        |SELECT doc_id, frame_idx, frame_hex FROM f
        |ORDER BY doc_id, frame_idx""".stripMargin) { (s, dir) =>
      val blobs = Multimodal.withBlob(documents(s, dir), "text", "blob")
      Multimodal.sampleFrames(blobs, "doc_id", "blob", stride = 2,
          demux = Multimodal.fixedFrames(32))
        .select(col("doc_id"), col("frame_idx"), hex(col("frame")).as("frame_hex"))
        .orderBy("doc_id", "frame_idx")
    },

    // ---- multimodal resize (per-partition batch path, oracle) ----
    // fakeResize folds the blob into a w*h "thumbnail" by XOR at
    // position i % (w*h); XOR is order-independent, so DuckDB replays it
    // as a bit_xor group-by over hex-extracted bytes and reassembles the
    // thumbnail hex. Absent positions (blob shorter than w*h) are 0 in
    // both engines.
    Q("q91_resize_blobs",
      """WITH b AS (SELECT doc_id, hex(encode(text)) AS bh FROM documents),
        |ix AS (SELECT doc_id, bh, unnest(range(length(bh) // 2)) AS i FROM b),
        |by AS (SELECT doc_id, CAST(i % 256 AS INTEGER) AS pos,
        |    CAST(('0x' || substr(bh, CAST(i * 2 + 1 AS INTEGER), 2)) AS INTEGER) AS byte
        |  FROM ix),
        |p AS (SELECT doc_id, unnest(range(256)) AS pos FROM documents),
        |px AS (SELECT p.doc_id, p.pos, COALESCE(bit_xor(by.byte), 0) AS v
        |  FROM p LEFT JOIN by ON by.doc_id = p.doc_id AND by.pos = p.pos
        |  GROUP BY 1, 2)
        |SELECT doc_id,
        |  string_agg(lpad(hex(v), 2, '0'), '' ORDER BY pos) AS resized_hex
        |FROM px GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val blobs = Multimodal.withBlob(documents(s, dir), "text", "blob")
      Multimodal.resizeBlobs(blobs, "doc_id", "blob", 16, 16,
          resample = Multimodal.fakeResize)
        .select(col("doc_id"), hex(col("resized")).as("resized_hex"))
        .orderBy("doc_id")
    },

    // ---- REAL image codec, oracle-checked (closes the codec-fake gap) ----
    // Two independent parsers over the same planted bytes: Spark decodes
    // with javax.imageio (header reader + full pixel decode); the oracle
    // re-parses the blob hex with byte-offset arithmetic — BMP
    // little-endian dims @18/@22 and first pixel B,G,R @54 (the BMP bytes
    // themselves are hand-written from the spec, NOT ImageIO-encoded, so
    // the JDK decoder is checked against an independent construction);
    // PNG big-endian IHDR dims @16/@20 (checking the JDK *encoder*'s
    // header against the PNG spec) with the pixel sum from the planted
    // color literals (checking encode→decode pixel round-trip).
    // rgb_sum is exact integer Σ(r+g+b) — no float in the compared
    // output. Undecodable blobs (planted non-image + empty) must yield
    // all-NULL rows, not exceptions.
    Q("q113_image_codec",
      s"""WITH blobs(id, kind, hx, pr, pg, pb) AS (VALUES
        |    ${graft.multimodal.PlantedImages.sqlValues})
        |SELECT CAST(id AS BIGINT) AS id,
        |  CASE kind
        |    WHEN 'png' THEN CAST(('0x' || substr(hx, 33, 8)) AS INTEGER)
        |    WHEN 'bmp' THEN CAST(CAST(('0x' || substr(hx, 37, 2)) AS INTEGER)
        |                       + CAST(('0x' || substr(hx, 39, 2)) AS INTEGER) * 256
        |                       + CAST(('0x' || substr(hx, 41, 2)) AS INTEGER) * 65536
        |                       + CAST(('0x' || substr(hx, 43, 2)) AS INTEGER) * 16777216 AS INTEGER)
        |  END AS width,
        |  CASE kind
        |    WHEN 'png' THEN CAST(('0x' || substr(hx, 41, 8)) AS INTEGER)
        |    WHEN 'bmp' THEN CAST(CAST(('0x' || substr(hx, 45, 2)) AS INTEGER)
        |                       + CAST(('0x' || substr(hx, 47, 2)) AS INTEGER) * 256
        |                       + CAST(('0x' || substr(hx, 49, 2)) AS INTEGER) * 65536
        |                       + CAST(('0x' || substr(hx, 51, 2)) AS INTEGER) * 16777216 AS INTEGER)
        |  END AS height,
        |  CASE WHEN kind IN ('png', 'bmp') THEN kind END AS format,
        |  CASE kind
        |    WHEN 'bmp' THEN CAST((CAST(('0x' || substr(hx, 109, 2)) AS INTEGER)
        |                        + CAST(('0x' || substr(hx, 111, 2)) AS INTEGER)
        |                        + CAST(('0x' || substr(hx, 113, 2)) AS INTEGER))
        |                        * width * height AS BIGINT)
        |    WHEN 'png' THEN CAST((pr + pg + pb) * width * height AS BIGINT)
        |  END AS rgb_sum,
        |  CASE WHEN kind IN ('png', 'bmp')
        |       THEN CAST(width * height AS BIGINT) END AS n_px
        |FROM blobs ORDER BY id""".stripMargin) { (s, dir) =>
      val rows = graft.multimodal.PlantedImages.all.map(p => (p.id, p.blob))
      val df = s.createDataFrame(rows).toDF("id", "blob")
      graft.multimodal.ImageIo.imageStats(df, "id", "blob").orderBy("id")
    },

    // ---- REAL audio codec, oracle-checked (audio twin of q113) ----
    // Spark decodes planted WAV (RIFF LE) and AU (BE) blobs with
    // javax.sound.sampled; the oracle re-parses identical bytes by
    // offset arithmetic in the opposite direction — both containers are
    // hand-written from their specs (never javax.sound-encoded), so the
    // JDK parser is checked against an independent construction. The
    // pixel-sum analogue is pcm_sum: the exact signed-16-bit sample sum
    // ((v+32768)%65536-32768 is the branchless sign extension), which
    // checks the *decode* (endianness, frame framing), not just headers.
    Q("q114_audio_codec",
      s"""WITH blobs(id, kind, hx) AS (VALUES
        |    ${graft.multimodal.PlantedAudio.sqlValues}),
        |p AS (SELECT id, kind, hx,
        |  CASE kind
        |    WHEN 'wav' THEN CAST(('0x' || substr(hx, 45, 2)) AS INTEGER)
        |                  + CAST(('0x' || substr(hx, 47, 2)) AS INTEGER) * 256
        |    WHEN 'au'  THEN CAST(('0x' || substr(hx, 41, 8)) AS INTEGER)
        |  END AS ch,
        |  CASE kind
        |    WHEN 'wav' THEN CAST(('0x' || substr(hx, 49, 2)) AS INTEGER)
        |                  + CAST(('0x' || substr(hx, 51, 2)) AS INTEGER) * 256
        |                  + CAST(('0x' || substr(hx, 53, 2)) AS INTEGER) * 65536
        |                  + CAST(('0x' || substr(hx, 55, 2)) AS INTEGER) * 16777216
        |    WHEN 'au'  THEN CAST(('0x' || substr(hx, 33, 8)) AS INTEGER)
        |  END AS rate,
        |  CASE kind
        |    WHEN 'wav' THEN CAST(('0x' || substr(hx, 69, 2)) AS INTEGER)
        |                  + CAST(('0x' || substr(hx, 71, 2)) AS INTEGER) * 256
        |    WHEN 'au'  THEN CASE CAST(('0x' || substr(hx, 25, 8)) AS INTEGER)
        |                      WHEN 3 THEN 16 END
        |  END AS bits,
        |  CASE kind
        |    WHEN 'wav' THEN CAST(('0x' || substr(hx, 81, 2)) AS INTEGER)
        |                  + CAST(('0x' || substr(hx, 83, 2)) AS INTEGER) * 256
        |                  + CAST(('0x' || substr(hx, 85, 2)) AS INTEGER) * 65536
        |                  + CAST(('0x' || substr(hx, 87, 2)) AS INTEGER) * 16777216
        |    WHEN 'au'  THEN CAST(('0x' || substr(hx, 17, 8)) AS INTEGER)
        |  END AS data_size
        |  FROM blobs)
        |SELECT CAST(id AS BIGINT) AS id,
        |  CASE kind WHEN 'wav' THEN 'wave' WHEN 'au' THEN 'au' END AS format,
        |  CAST(ch AS INTEGER) AS channels,
        |  CAST(rate AS INTEGER) AS sample_rate,
        |  CAST(bits AS INTEGER) AS bits,
        |  CAST(data_size // (2 * ch) AS BIGINT) AS n_frames,
        |  CAST(CASE kind
        |    WHEN 'wav' THEN list_sum(list_transform(range(data_size // 2), k ->
        |      (CAST(('0x' || substr(hx, 89 + 4 * k, 2)) AS INTEGER)
        |     + CAST(('0x' || substr(hx, 91 + 4 * k, 2)) AS INTEGER) * 256
        |     + 32768) % 65536 - 32768))
        |    WHEN 'au'  THEN list_sum(list_transform(range(data_size // 2), k ->
        |      (CAST(('0x' || substr(hx, 49 + 4 * k, 2)) AS INTEGER) * 256
        |     + CAST(('0x' || substr(hx, 51 + 4 * k, 2)) AS INTEGER)
        |     + 32768) % 65536 - 32768))
        |  END AS BIGINT) AS pcm_sum
        |FROM p ORDER BY id""".stripMargin) { (s, dir) =>
      val rows = graft.multimodal.PlantedAudio.all.map(p => (p.id, p.blob))
      val df = s.createDataFrame(rows).toDF("id", "blob")
      graft.multimodal.AudioIo.audioStats(df, "id", "blob").orderBy("id")
    },

    // ---- REAL video demux + frame decode, oracle-checked (q113/q114 twin) ----
    // Spark walks planted RIFF/AVI containers with VideoIo's generic
    // chunk walker and decodes each Motion-PNG frame with javax.imageio;
    // the oracle re-walks the SAME bytes by offset arithmetic — it
    // chases the chunk chain (hdrl size -> movi -> '00dc' sizes ->
    // even-padded next offsets) through lateral aliases rather than
    // assuming fixed frame positions, then parses each frame's PNG IHDR
    // big-endian. Frame pixel sums come from the planted color literals
    // (encode->decode round-trip, as in q113's PNG path). Undecodable
    // blobs yield a single all-NULL row.
    Q("q115_video_demux", {
      def le32(pos: String) =
        s"""(CAST(('0x' || substr(hx, 2*($pos)+1, 2)) AS INTEGER)
           | + CAST(('0x' || substr(hx, 2*($pos)+3, 2)) AS INTEGER) * 256
           | + CAST(('0x' || substr(hx, 2*($pos)+5, 2)) AS INTEGER) * 65536
           | + CAST(('0x' || substr(hx, 2*($pos)+7, 2)) AS INTEGER) * 16777216)""".stripMargin.replaceAll("\n\\s*", " ")
      def be32(pos: String) = s"CAST(('0x' || substr(hx, 2*($pos)+1, 8)) AS INTEGER)"
      val n = graft.multimodal.PlantedVideos.framesPerVideo
      // chained frame-chunk offsets: c0 after 'movi', each next skips the
      // 8-byte chunk header + payload + odd-size pad
      val chain = (0 until n).map { f =>
        val prev = if (f == 0) s"c0" else s"c$f"
        s"${le32(s"$prev+4")} AS s$f, $prev + 8 AS d$f" +
          (if (f < n - 1) s", $prev + 8 + s$f + s$f % 2 AS c${f + 1}" else "")
      }.mkString(",\n        |    ")
      def pick(col: Int => String) =
        (0 until n).map(f => s"WHEN $f THEN ${col(f)}").mkString("CASE idx ", " ", " END")
      s"""WITH blobs(id, kind, hx, ${(0 until n).map("cs" + _).mkString(", ")}) AS (VALUES
        |    ${graft.multimodal.PlantedVideos.sqlValues}),
        |a AS (SELECT *, ${le32("48")} AS nf, 20 + ${le32("16")} + 12 AS c0
        |  FROM blobs WHERE kind = 'avi'),
        |fr AS (SELECT *,
        |    $chain
        |  FROM a),
        |idxs(idx) AS (VALUES ${(0 until n).map(f => s"($f)").mkString(", ")}),
        |av AS (SELECT id, idx,
        |    ${pick(f => be32(s"d$f+16"))} AS w,
        |    ${pick(f => be32(s"d$f+20"))} AS h,
        |    ${pick(f => s"cs$f")} AS cs, nf
        |  FROM fr CROSS JOIN idxs)
        |SELECT CAST(id AS BIGINT) AS id, CAST(idx AS INTEGER) AS frame_idx,
        |  CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
        |  CAST(cs * w * h AS BIGINT) AS rgb_sum, CAST(nf AS BIGINT) AS n_frames
        |FROM av
        |UNION ALL
        |SELECT CAST(id AS BIGINT), NULL, NULL, NULL, NULL, NULL
        |FROM blobs WHERE kind = 'bad'
        |ORDER BY id, frame_idx""".stripMargin
    }) { (s, dir) =>
      val rows = graft.multimodal.PlantedVideos.all.map(p => (p.id, p.blob))
      val df = s.createDataFrame(rows).toDF("id", "blob")
      graft.multimodal.VideoIo.videoFrameStats(df, "id", "blob")
        .orderBy("id", "frame_idx")
    },

    // ---- BPE vocabulary learning (tokenizer training), oracle-checked ----
    // Full-protocol replay: the oracle re-runs all 6 merge iterations as
    // machine-generated chained CTEs (pair counts -> deterministic
    // argmax -> literal replace), MATERIALIZED so DuckDB doesn't inline
    // the w-chain exponentially. Both engines share the two-space symbol
    // representation whose left-to-right literal-replace semantics agree
    // exactly (see Bpe scaladoc); ties break on pair string ascending.
    Q("q116_bpe_merges", {
      val k = 6
      val chain = (1 to k).map { i =>
        s"""p$i AS MATERIALIZED (SELECT pair, SUM(cnt) AS c FROM (
          |    SELECT unnest(list_transform(range(len(sp)-1),
          |        j -> sp[j+1] || '  ' || sp[j+2])) AS pair, cnt
          |    FROM (SELECT string_split(trim(seq), '  ') AS sp, cnt FROM w${i - 1}))
          |  GROUP BY pair),
          |b$i AS MATERIALIZED (SELECT pair, c FROM p$i ORDER BY c DESC, pair ASC LIMIT 1),
          |w$i AS MATERIALIZED (SELECT replace(seq,
          |    ' ' || (SELECT pair FROM b$i) || ' ',
          |    ' ' || (SELECT replace(pair, '  ', '') FROM b$i) || ' ') AS seq, cnt
          |  FROM w${i - 1})""".stripMargin
      }.mkString(",\n")
      val finals = (1 to k).map(i =>
        s"""SELECT CAST($i AS INTEGER) AS step,
          |  string_split(pair, '  ')[1] AS lhs, string_split(pair, '  ')[2] AS rhs,
          |  replace(pair, '  ', '') AS merged, CAST(c AS BIGINT) AS cnt FROM b$i""".stripMargin)
        .mkString("\nUNION ALL\n")
      s"""WITH w0 AS MATERIALIZED (
        |  SELECT '  ' || array_to_string(string_split(word, ''), '  ') || '  ' AS seq, cnt
        |  FROM (SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
        |      SELECT unnest(string_split_regex(lower(text), '\\s+')) AS word FROM documents)
        |    WHERE regexp_matches(word, '^[a-z]+$$') GROUP BY word)),
        |$chain
        |SELECT * FROM ($finals) ORDER BY step""".stripMargin
    }) { (s, dir) =>
      import s.implicits._
      graft.text.Bpe.learnMerges(
          graft.text.Bpe.wordCounts(documents(s, dir), "text"), "word", "cnt", 6)
        .toDF().select(col("step"), col("lhs"), col("rhs"), col("merged"), col("cnt"))
        .orderBy("step")
    },

    // ---- BPE corpus tokenization (the apply side of q116) ----
    // The actual 100 TB tokenization stage: merges learned once
    // (vocabulary-sized, q116's protocol), the segmentation computed
    // per DISTINCT word (vocabulary-sized again), and the corpus only
    // ever streams through an AQE-sized word→token-count join (the
    // distinct-word set is data-dependent — no forced hint) — the
    // quadratic-ish merge machinery never touches the occurrence
    // stream. Oracle replays the full learn chain (q116's generated
    // CTEs, carrying the word through the replaces) plus the same
    // occurrence join.
    Q("q147_bpe_tokenize",
      s"""WITH ${OracleSql.bpePerDocSql(6)}
        |SELECT d.doc_id, CAST(COALESCE(per.n_words, 0) AS BIGINT) AS n_words,
        |  CAST(COALESCE(per.n_bpe_tokens, 0) AS BIGINT) AS n_bpe_tokens
        |FROM (SELECT doc_id FROM documents) d LEFT JOIN per USING (doc_id)
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val docs = documents(s, dir)
      val vocab = graft.ops.Pin.pin(graft.text.Bpe.wordCounts(docs, "text"))
      val merges = graft.text.Bpe.learnMerges(vocab, "word", "cnt", 6)
      val seg = graft.text.Bpe.segment(vocab.select(col("word")), "word", merges)
        .select(col("word"), size(col("tokens")).cast("long").as("n_toks"))
      val occ = docs.select(col("doc_id"),
          explode(split(lower(col("text")), "\\s+")).as("word"))
        .filter(col("word").rlike("^[a-z]+$"))
      val per = occ.join(seg, "word")
        .groupBy("doc_id").agg(count(lit(1)).as("n_words"),
          sum(col("n_toks")).as("n_bpe_tokens"))
      docs.select(col("doc_id")).join(per, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_words"), lit(0L)).as("n_words"),
          coalesce(col("n_bpe_tokens"), lit(0L)).as("n_bpe_tokens"))
        .orderBy("doc_id")
    },

    // ---- DSIR-style importance resampling (data selection), oracle ----
    // Hashed unigram+bigram profiles (1024 md5 buckets) for the target
    // subset (lang='en') vs the raw pool; per-doc masses are exact
    // integer sums of add-one-smoothed bucket counts and the weight is
    // their single IEEE-identical double ratio (the published
    // log-likelihood form is transcendental and cannot hash-match
    // across engines — documented deviation in Dsir.scala). sel_rank
    // marks the top-50 non-target docs (weight desc, doc_id tiebreak),
    // via the two-stage top-k on the Spark side and a window on the
    // oracle side — identical for any total order.
    Q("q117_dsir_selection",
      s"""WITH toks AS (SELECT doc_id, lang = 'en' AS t,
        |    list_filter(string_split_regex(lower(text), '\\s+'),
        |                x -> regexp_matches(x, '^[a-z]+$$')) AS tk
        |  FROM documents),
        |g AS (SELECT doc_id, t, unnest(tk) AS gram FROM toks
        |  UNION ALL
        |  SELECT doc_id, t, unnest(list_transform(range(len(tk)-1),
        |      j -> tk[j+1] || ' ' || tk[j+2])) AS gram FROM toks),
        |hv AS (SELECT * FROM ${md5Hash64Sql("doc_id, t", "md5(gram)", "g", "h")}),
        |b AS (SELECT doc_id, t,
        |    CAST(((h % 1024) + 1024) % 1024 AS INTEGER) AS bucket FROM hv),
        |prof AS (SELECT bucket, COUNT(*) AS r_cnt,
        |    SUM(CASE WHEN t THEN 1 ELSE 0 END) AS t_cnt
        |  FROM b GROUP BY bucket),
        |sc AS (SELECT doc_id, COUNT(*) AS n_grams,
        |    SUM(t_cnt + 1) AS t_mass, SUM(r_cnt + 1) AS r_mass
        |  FROM b JOIN prof USING (bucket) GROUP BY doc_id),
        |w AS (SELECT d.doc_id,
        |    CAST(COALESCE(n_grams, 0) AS BIGINT) AS n_grams,
        |    CAST(COALESCE(t_mass, 0) AS BIGINT) AS t_mass,
        |    CAST(COALESCE(r_mass, 0) AS BIGINT) AS r_mass,
        |    CASE WHEN r_mass IS NOT NULL
        |         THEN CAST(t_mass AS DOUBLE) / CAST(r_mass AS DOUBLE)
        |         ELSE 0.0 END AS weight,
        |    d.lang
        |  FROM documents d LEFT JOIN sc USING (doc_id)),
        |sel AS (SELECT doc_id,
        |    CAST(row_number() OVER (ORDER BY weight DESC, doc_id) AS BIGINT) AS rn
        |  FROM w WHERE lang <> 'en')
        |SELECT w.doc_id, n_grams, t_mass, r_mass, weight,
        |  CASE WHEN sel.rn <= 50 THEN sel.rn END AS sel_rank
        |FROM w LEFT JOIN sel USING (doc_id)
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val docsDf = documents(s, dir)
      val w = graft.text.Dsir.importanceWeights(
        docsDf, "doc_id", "text", col("lang") === "en")
      val raw = w.join(docsDf.select("doc_id", "lang"), "doc_id")
        .filter(col("lang") =!= "en").drop("lang")
      val sel = graft.text.Dsir.select(raw, "doc_id", 50)
        .select(col("doc_id"), col("rank").as("sel_rank"))
      w.join(sel, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_grams"), col("t_mass"), col("r_mass"),
          col("weight"), col("sel_rank"))
        .orderBy("doc_id")
    },

    // ---- deterministic data mixing (mixture-weighted interleave), oracle ----
    // Stride scheduling over language groups: i-th doc of group g keys
    // (i+0.5)/w_g, one IEEE double division; the global reading order is
    // that key with (lang, doc_id) tiebreak. Spark computes BOTH ranks
    // via the range-partition+offset zipWithIndex scheme (no window at
    // all); the oracle uses plain windows — identical for a total order.
    Q("q118_data_mixing",
      s"""WITH hv AS (SELECT * FROM ${md5Hash64Sql("doc_id, lang",
             "md5(CAST(doc_id AS VARCHAR))", "documents", "h")}),
        |w(lang, wt) AS (VALUES
        |    ('en', 0.4), ('de', 0.25), ('fr', 0.2), ('es', 0.1), ('zh', 0.05)),
        |r AS (SELECT doc_id, lang,
        |    CAST(row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) - 1
        |      AS BIGINT) AS src_rank
        |  FROM hv WHERE lang IN (SELECT lang FROM w)),
        |k AS (SELECT doc_id, r.lang, src_rank,
        |    (CAST(src_rank AS DOUBLE) + 0.5) / wt AS mix_key
        |  FROM r JOIN w ON r.lang = w.lang)
        |SELECT doc_id, lang, src_rank, mix_key,
        |  CAST(row_number() OVER (ORDER BY mix_key, lang, doc_id) AS BIGINT)
        |    AS mix_pos
        |FROM k ORDER BY doc_id""".stripMargin) { (s, dir) =>
      graft.text.Mixing.interleave(documents(s, dir), "lang", "doc_id",
          Map("en" -> 0.4, "de" -> 0.25, "fr" -> 0.2, "es" -> 0.1, "zh" -> 0.05))
        .select(col("doc_id"), col("lang"), col("src_rank"), col("mix_key"),
          col("mix_pos"))
        .orderBy("doc_id")
    },

    // ---- BM25 keyword retrieval (rational idf), oracle-checked ----
    // Every arithmetic step is a fixed-association IEEE +,×,÷ of
    // engine-computed exact integers (N, Σdl, df, tf, dl), so the
    // scores hash-match bit-for-bit; the log-idf deviation is documented
    // in Retrieval.scala. Spark: stats agg + scan projection + two-stage
    // top-k; oracle: the same expression tree over a CROSS JOIN with the
    // one-row stats CTE and a window rank.
    Q("q119_bm25_search", {
      val terms = Seq("hash", "join", "vector")
      s"""WITH ${bm25CoreSql(terms)}
        |SELECT doc_id, dl, ${terms.map("tf_" + _).mkString(", ")}, score,
        |  CAST(rn AS BIGINT) AS rank
        |FROM (SELECT *, row_number() OVER (ORDER BY score DESC, doc_id) AS rn FROM sc)
        |WHERE rn <= 20 ORDER BY rank""".stripMargin
    }) { (s, dir) =>
      graft.text.Retrieval.bm25(documents(s, dir), "doc_id", "text",
          Seq("hash", "join", "vector"), topK = 20)
        .select(col("doc_id"), col("dl"), col("tf_hash"), col("tf_join"),
          col("tf_vector"), col("score"), col("rank"))
        .orderBy("rank")
    },

    // ---- product quantization ANN (encode + ADC), oracle-checked ----
    // Full protocol replay: md5-ordered codebook sample, per-subspace
    // exact-decimal argmin encode, ADC lookup-table search. Every
    // distance is the DECIMAL capture sum (order-free exact), ranking
    // uses the unsnapped decimals, output snaps once to DECIMAL(18,9)
    // →double (the q41 parity pattern).
    Q("q120_pq_ann", {
      def sq(a: String, b: String) =
        s"""(SELECT SUM(CAST((CAST($a[i+1] AS DOUBLE) - CAST($b[i+1] AS DOUBLE))
           | * (CAST($a[i+1] AS DOUBLE) - CAST($b[i+1] AS DOUBLE))
           | AS DECIMAL(38,18))) FROM range(8) t(i))""".stripMargin.replaceAll("\n\\s*\\|?", " ")
      s"""WITH hv AS (SELECT * FROM ${md5Hash64Sql("vec_id",
             "md5(CAST(vec_id AS VARCHAR))", "embeddings", "h")}),
        |samp AS (SELECT vec_id, CAST(rn - 1 AS INTEGER) AS code FROM (
        |    SELECT vec_id, row_number() OVER (ORDER BY h, vec_id) AS rn FROM hv)
        |  WHERE rn <= 16),
        |js AS (SELECT CAST(unnest(range(8)) AS INTEGER) AS j),
        |cb AS (SELECT j, code,
        |    list_transform(range(8), i -> e.embedding[j*8 + i + 1]) AS cvec
        |  FROM samp JOIN embeddings e USING (vec_id) CROSS JOIN js),
        |subs AS (SELECT vec_id, j,
        |    list_transform(range(8), i -> embedding[j*8 + i + 1]) AS sub
        |  FROM embeddings CROSS JOIN js),
        |ed AS (SELECT s.vec_id, s.j, cb.code, ${sq("s.sub", "cb.cvec")} AS dist
        |  FROM subs s JOIN cb ON s.j = cb.j),
        |codes AS (SELECT vec_id AS neighbor_id, j, code FROM (
        |    SELECT vec_id, j, code,
        |      row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, code) AS rn
        |    FROM ed) WHERE rn = 1),
        |qs AS (SELECT vec_id AS query_id, j,
        |    list_transform(range(8), i -> embedding[j*8 + i + 1]) AS qsub
        |  FROM embeddings CROSS JOIN js WHERE vec_id < 3),
        |td AS (SELECT query_id, q.j, cb.code, ${sq("q.qsub", "cb.cvec")} AS d
        |  FROM qs q JOIN cb ON q.j = cb.j),
        |adc AS (SELECT query_id, neighbor_id, SUM(d) AS adc
        |  FROM codes c JOIN td ON td.j = c.j AND td.code = c.code
        |  WHERE neighbor_id <> query_id GROUP BY 1, 2)
        |SELECT query_id, CAST(rn AS BIGINT) AS rank, neighbor_id,
        |  CAST(FLOOR(adc * 1000000000 + 0.5) AS DOUBLE) / 1000000000.0 AS adc
        |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
        |        ORDER BY adc, neighbor_id) AS rn FROM adc)
        |WHERE rn <= 10 ORDER BY query_id, rank""".stripMargin
    }) { (s, dir) =>
      val emb = embeddings(s, dir)
      Similarity.pqTopK(emb, emb.filter(col("vec_id") < 3), "vec_id",
          "embedding", m = 8, k = 16, dim = 64, topK = 10)
        .orderBy("query_id", "rank")
    },

    // ---- corpus curation capstone: dedup -> quality -> language (oracle) ----
    Q("q70_curation_pipeline", {
      val scoreCols = TextOps.langMarkers.map { case (lang, markers) =>
        val arr = markers.map(m => s"'$m'").mkString("[", ", ", "]")
        s"len(list_filter(toks, x -> list_contains($arr, x))) AS s_$lang"
      }.mkString(", ")
      val langs = TextOps.langMarkers.map(_._1)
      val best = s"greatest(${langs.map("s_" + _).mkString(", ")})"
      val cases = langs.map(l => s"WHEN s_$l = $best AND $best > 0 THEN '$l'").mkString(" ")
      s"""WITH canon AS (SELECT doc_id, text,
        |    md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp,
        |    string_split_regex(trim(lower(text)), '\\s+') AS toks
        |  FROM documents),
        |kept AS (SELECT * FROM (SELECT *,
        |    ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn FROM canon)
        |  WHERE rn = 1),
        |q AS (SELECT doc_id, toks,
        |    least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.4
        |      + least(CASE WHEN len(toks) > 0
        |          THEN CAST(len(list_filter(toks, x -> list_contains($stopsSql, x))) AS DOUBLE) / len(toks)
        |          ELSE 0.0 END * 5.0, 1.0) * 0.3
        |      + greatest(0.0, 1.0 - (CASE WHEN length(text) > 0
        |          THEN CAST(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE) / length(text)
        |          ELSE 0.0 END) * 4.0) * 0.3 AS q_score
        |  FROM kept),
        |lng AS (SELECT doc_id, q_score, CASE $cases ELSE 'und' END AS lang
        |  FROM (SELECT doc_id, q_score, $scoreCols FROM q)),
        |curated AS (SELECT * FROM lng WHERE q_score >= 0.5 AND lang <> 'und')
        |SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(CAST(ROUND(q_score * 1000000.0, 0) AS DECIMAL(30,0))) AS DOUBLE)
        |    / 1000000.0 / COUNT(q_score) AS avg_quality
        |FROM curated GROUP BY lang ORDER BY lang""".stripMargin
    }) { (s, dir) =>
      import graft.ops.Exact.gavg
      val docs = documents(s, dir)
      val deduped = Dedup.dropExactDups(docs, "doc_id", "text")
      val scored = deduped
        .withColumn("q_score", TextOps.qualityScore(col("text"), stops))
        .withColumn("lang", TextOps.langId(col("text")))
      scored
        .filter(col("q_score") >= 0.5 && col("lang") =!= "und")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), gavg(col("q_score")).as("avg_quality"))
        .orderBy("lang")
    },

    // ---- near-dup GROUPS via connected components over LSH pairs ----
    // Dedup at corpus scale keeps one representative per duplicate
    // GROUP, not per pair: q80's verified MinHash pair list feeds
    // min-label propagation (Dedup.dupGroups). The oracle replays the
    // identical pair CTE chain and closes components with a recursive
    // transitive-closure CTE — exact group membership, hash-checked.
    Q("q102_dup_groups",
      s"""WITH RECURSIVE ${minhashGroupsSql()}
        |SELECT group_id, id AS doc_id,
        |  CAST(COUNT(*) OVER (PARTITION BY group_id) AS BIGINT) AS n_members
        |FROM comp ORDER BY group_id, doc_id""".stripMargin) { (s, dir) =>
      val pairs = Dedup.minhashNearDups(documents(s, dir), "doc_id", "text",
          MinHashFamily.Md5, nHashes = 16, bands = 4, shingleSize = 3)
        .filter(col("jaccard") >= 0.5)
        .select("id_a", "id_b")
      val w = org.apache.spark.sql.expressions.Window.partitionBy("group_id")
      Dedup.dupGroups(pairs)
        .select(col("group_id"), col("id").as("doc_id"))
        .withColumn("n_members", count(lit(1)).over(w).cast("long"))
        .orderBy("group_id", "doc_id")
    },

    // ---- Gopher-style n-gram repetition quality features ----
    // Published MassiveText/Gopher repetition filters: the fraction of a
    // doc covered by its most frequent word bigram and by bigrams that
    // repeat. Exact-integer ratios — identical doubles in both engines.
    Q("q103_repetition_stats",
      """WITH toks AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
        |  FROM documents WHERE text IS NOT NULL),
        |gl AS (SELECT doc_id, CASE WHEN len(t) >= 2 THEN
        |    list_transform(range(1, len(t)), i -> array_to_string(t[i:i+1], ' '))
        |  ELSE [array_to_string(t, ' ')] END AS gs FROM toks),
        |g AS (SELECT doc_id, unnest(gs) AS g FROM gl),
        |cnt AS (SELECT doc_id, g, COUNT(*) AS c FROM g GROUP BY 1, 2)
        |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_grams,
        |  CAST(MAX(c) AS DOUBLE) / SUM(c) AS top_ngram_frac,
        |  CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE) / SUM(c) AS dup_ngram_frac
        |FROM cnt GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      TextOps.repetitionStats(
        documents(s, dir).filter(col("text").isNotNull), "doc_id", "text", n = 2)
        .orderBy("doc_id")
    },

    // ---- deterministic per-language quota sampling ----
    // The corpus-curation sampling step: k docs per language, chosen by
    // md5-hash order of the id — uniform-ish, RNG-free, replayable by
    // any engine with md5. Spark side runs the two-stage top-k (no
    // single hot partition for a dominant language at corpus scale).
    Q("q104_stratified_sample",
      """WITH r AS (SELECT lang, doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS sample_rank
        |  FROM documents)
        |SELECT lang, CAST(sample_rank AS BIGINT) AS sample_rank, doc_id
        |FROM r WHERE sample_rank <= 5 ORDER BY lang, sample_rank""".stripMargin) {
      (s, dir) =>
      TextOps.stratifiedSample(documents(s, dir), "lang", "doc_id", k = 5)
        .select("lang", "sample_rank", "doc_id")
        .orderBy("lang", "sample_rank")
    },

    // ---- curation capstone v2: the round-6 operators as ONE DAG ----
    // exact dedup -> repetition filter (Gopher dup-bigram fraction) ->
    // quality + language gate -> per-language quota sample. Everything
    // is a scan projection or a bounded window; the one oracle-checked
    // output proves the composed pipeline end to end, like q70 does for
    // the round-3 curation ops.
    Q("q105_curation_sample", {
      val scoreCols = TextOps.langMarkers.map { case (lang, markers) =>
        val arr = markers.map(m => s"'$m'").mkString("[", ", ", "]")
        s"len(list_filter(toks, x -> list_contains($arr, x))) AS s_$lang"
      }.mkString(", ")
      val langs = TextOps.langMarkers.map(_._1)
      val best = s"greatest(${langs.map("s_" + _).mkString(", ")})"
      val cases = langs.map(l => s"WHEN s_$l = $best AND $best > 0 THEN '$l'").mkString(" ")
      s"""WITH canon AS (SELECT doc_id, text,
        |    md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp,
        |    string_split_regex(trim(lower(text)), '\\s+') AS toks
        |  FROM documents),
        |kept AS (SELECT * FROM (SELECT *,
        |    ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn FROM canon)
        |  WHERE rn = 1),
        |rep AS (SELECT doc_id,
        |    CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE) / SUM(c) AS dup_frac
        |  FROM (SELECT doc_id, g, COUNT(*) AS c FROM
        |      (SELECT doc_id, unnest(CASE WHEN len(toks) >= 2 THEN
        |           list_transform(range(1, len(toks)), i -> array_to_string(toks[i:i+1], ' '))
        |         ELSE [array_to_string(toks, ' ')] END) AS g
        |       FROM kept) GROUP BY 1, 2) GROUP BY doc_id),
        |q AS (SELECT doc_id, toks,
        |    least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.4
        |      + least(CASE WHEN len(toks) > 0
        |          THEN CAST(len(list_filter(toks, x -> list_contains($stopsSql, x))) AS DOUBLE) / len(toks)
        |          ELSE 0.0 END * 5.0, 1.0) * 0.3
        |      + greatest(0.0, 1.0 - (CASE WHEN length(text) > 0
        |          THEN CAST(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE) / length(text)
        |          ELSE 0.0 END) * 4.0) * 0.3 AS q_score
        |  FROM kept),
        |lng AS (SELECT doc_id, q_score, CASE $cases ELSE 'und' END AS lang
        |  FROM (SELECT doc_id, q_score, $scoreCols FROM q)),
        |curated AS (SELECT l.doc_id, l.lang, r.dup_frac
        |  FROM lng l JOIN rep r USING (doc_id)
        |  WHERE l.q_score >= 0.4 AND l.lang <> 'und' AND r.dup_frac <= 0.6),
        |sampled AS (SELECT lang, doc_id, dup_frac,
        |    ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS sample_rank
        |  FROM curated)
        |SELECT lang AS pred_lang, CAST(sample_rank AS BIGINT) AS sample_rank,
        |  doc_id, dup_frac AS dup_ngram_frac
        |FROM sampled WHERE sample_rank <= 5
        |ORDER BY pred_lang, sample_rank""".stripMargin
    }) { (s, dir) =>
      val curated = Dedup.dropExactDups(documents(s, dir), "doc_id", "text")
        .transform(TextOps.withRepetitionStats(_, "text", 2))
        .withColumn("q_score", TextOps.qualityScore(col("text"), stops))
        .withColumn("pred_lang", TextOps.langId(col("text")))
        .filter(col("q_score") >= 0.4 && col("pred_lang") =!= "und" &&
          col("dup_ngram_frac") <= 0.6)
      TextOps.stratifiedSample(curated, "pred_lang", "doc_id", k = 5)
        .select("pred_lang", "sample_rank", "doc_id", "dup_ngram_frac")
        .orderBy("pred_lang", "sample_rank")
    },

    // ---- benchmark decontamination: n-gram overlap vs an eval set ----
    // The published decontamination protocol (n-gram collision against
    // held-out eval data). Eval set = the deterministic md5-quota sample
    // (2 docs/language); training docs sharing >= 2 distinct word
    // trigrams with it are flagged with their overlap counts.
    Q("q107_decontaminate",
      """WITH ev AS (SELECT doc_id, text FROM (SELECT lang, doc_id, text,
        |    ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents) WHERE rn <= 2),
        |tr AS (SELECT doc_id, text FROM documents
        |  WHERE doc_id NOT IN (SELECT doc_id FROM ev)),
        |tg AS (SELECT doc_id, md5(g) AS gh FROM (
        |  SELECT doc_id, unnest(CASE WHEN len(t) >= 3 THEN
        |      list_transform(range(1, len(t)-1), i -> array_to_string(t[i:i+2], ' '))
        |    ELSE [array_to_string(t, ' ')] END) AS g
        |  FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t FROM tr))),
        |eg AS (SELECT DISTINCT md5(g) AS gh FROM (
        |  SELECT unnest(CASE WHEN len(t) >= 3 THEN
        |      list_transform(range(1, len(t)-1), i -> array_to_string(t[i:i+2], ' '))
        |    ELSE [array_to_string(t, ' ')] END) AS g
        |  FROM (SELECT string_split_regex(trim(lower(text)), '\s+') AS t FROM ev)))
        |SELECT doc_id, CAST(COUNT(DISTINCT tg.gh) AS BIGINT) AS n_shared
        |FROM tg JOIN eg ON eg.gh = tg.gh
        |GROUP BY doc_id HAVING COUNT(DISTINCT tg.gh) >= 2
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val docs = documents(s, dir).select("doc_id", "lang", "text")
      // the tiny eval sample is referenced three times (anti-join spine,
      // eval grams, and its own windowed derivation) — pin it once
      val ev = graft.ops.Pin.pin(
        TextOps.stratifiedSample(docs, "lang", "doc_id", k = 2)
          .select("doc_id", "text"))
      val train = docs.select("doc_id", "text")
        .join(ev.select("doc_id"), Seq("doc_id"), "left_anti")
      Dedup.contamination(train, ev, "doc_id", "text", n = 3, minShared = 2)
        .orderBy("doc_id")
    },

    // ---- PII redaction scrub ----
    // The synthetic corpus carries no PII, so three fixture rows with
    // planted email/phone patterns ride along IN THE QUERY (engine union
    // = oracle VALUES — symmetric), proving count + replacement on
    // non-trivial input while the scan covers the real table. Patterns
    // are backtracking-free so Java regex and RE2 agree; the redacted
    // text is fingerprinted (md5) to keep the compared output bounded.
    Q("q108_pii_redact",
      s"""WITH aug AS (SELECT doc_id, text FROM documents
        |  UNION ALL SELECT * FROM (VALUES
        |    (9000001, 'contact alice.smith+work@example.co.uk or bob@test.org now'),
        |    (9000002, 'call 555-123-4567 or 555 987 6543 today'),
        |    (9000003, 'no pii here at all')) v(doc_id, text))
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '${TextOps.EmailPattern}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(text, '${TextOps.PhonePattern}')) AS BIGINT) AS n_phones,
        |  md5(regexp_replace(regexp_replace(text, '${TextOps.EmailPattern}', '<EMAIL>', 'g'),
        |    '${TextOps.PhonePattern}', '<PHONE>', 'g')) AS redacted_fp
        |FROM aug ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val extra = Seq(
        (9000001L, "contact alice.smith+work@example.co.uk or bob@test.org now"),
        (9000002L, "call 555-123-4567 or 555 987 6543 today"),
        (9000003L, "no pii here at all")).toDF("doc_id", "text")
      val aug = documents(s, dir).select(col("doc_id"), col("text"))
        .unionByName(extra)
      TextOps.redactPii(aug, "text")
        .select(col("doc_id"), col("n_emails"), col("n_phones"),
          md5(col("redacted")).as("redacted_fp"))
        .orderBy("doc_id")
    },

    // ---- quality-keep exact dedup (keep best, not min id) ----
    Q("q112_keep_best_dedup",
      s"""WITH t AS (SELECT doc_id, text,
        |    string_split_regex(trim(lower(text)), '\\s+') AS toks FROM documents),
        |  r AS (SELECT doc_id, text,
        |    least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) AS len_score,
        |    CASE WHEN len(toks) > 0
        |         THEN CAST(len(list_filter(toks, x -> list_contains($stopsSql, x))) AS DOUBLE) / len(toks)
        |         ELSE 0.0 END AS stop_ratio,
        |    CASE WHEN length(text) > 0
        |         THEN CAST(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE) / length(text)
        |         ELSE 0.0 END AS punct_ratio
        |  FROM t),
        |  sc AS (SELECT doc_id, text,
        |    len_score * 0.4 + least(stop_ratio * 5.0, 1.0) * 0.3
        |      + greatest(0.0, 1.0 - punct_ratio * 4.0) * 0.3 AS q_score
        |  FROM r),
        |  g AS (SELECT md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp,
        |    doc_id, q_score FROM sc),
        |  w AS (SELECT fp, doc_id, q_score,
        |    ROW_NUMBER() OVER (PARTITION BY fp ORDER BY q_score DESC, doc_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY fp) AS n_docs,
        |    MAX(q_score) OVER (PARTITION BY fp) AS best_score
        |  FROM g)
        |SELECT fp, doc_id AS keep_id, CAST(n_docs AS BIGINT) AS n_docs, best_score
        |FROM w WHERE rn = 1 ORDER BY fp""".stripMargin) { (s, dir) =>
      val scored = documents(s, dir).select(col("doc_id"), col("text"),
        TextOps.qualityScore(col("text"), stops).as("q_score"))
      Dedup.keepBestGroups(scored, "doc_id", "text", "q_score").orderBy("fp")
    },

    // ---- per-domain quota cap (keep-best under cap) ----
    // The "max pages per domain" web-curation heuristic: the 10
    // best-quality docs per source survive, ties to the smaller id.
    // Rank order is the q38 quality score, replayed exactly.
    Q("q125_domain_cap",
      s"""WITH t AS (SELECT source, doc_id, text,
        |    string_split_regex(trim(lower(text)), '\\s+') AS toks FROM documents),
        |r AS (SELECT source, doc_id,
        |  least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.4
        |    + least(CASE WHEN len(toks) > 0
        |        THEN CAST(len(list_filter(toks, x -> list_contains($stopsSql, x))) AS DOUBLE) / len(toks)
        |        ELSE 0.0 END * 5.0, 1.0) * 0.3
        |    + greatest(0.0, 1.0 - CASE WHEN length(text) > 0
        |        THEN CAST(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE) / length(text)
        |        ELSE 0.0 END * 4.0) * 0.3 AS q_score FROM t),
        |w AS (SELECT source, doc_id, q_score, ROW_NUMBER() OVER (
        |    PARTITION BY source ORDER BY q_score DESC, doc_id) AS rn FROM r)
        |SELECT source, CAST(rn AS BIGINT) AS cap_rank, doc_id, q_score
        |FROM w WHERE rn <= 10 ORDER BY source, cap_rank""".stripMargin) {
      (s, dir) =>
      val scored = documents(s, dir).select(col("source"), col("doc_id"),
        TextOps.qualityScore(col("text"), stops).as("q_score"))
      TextOps.domainCap(scored, "source", "doc_id", "q_score", cap = 10)
        .select("source", "cap_rank", "doc_id", "q_score")
        .orderBy("source", "cap_rank")
    },

    // ---- batch-incremental exact dedup (daily-crawl shape) ----
    // Incoming batch (doc_id % 3 = 0) classified against the existing
    // corpus (the rest): already-in-corpus, duplicate-within-batch
    // (earlier id wins), or new. Fingerprints only. The synthetic
    // corpus has no exact dups, so — like q108's PII fixtures — planted
    // rows ride along in the query (engine union = oracle VALUES,
    // symmetric) to prove all three statuses: 9300000 copies an
    // existing doc (dup_corpus), 9300003/9300006 copy each other
    // (new + dup_batch, earlier id wins).
    Q("q126_incremental_dedup",
      """WITH aug AS (SELECT doc_id, text FROM documents
        |  UNION ALL SELECT * FROM (VALUES
        |    (9300001, 'planted corpus page kept in the existing set'),
        |    (9300000, 'planted corpus page kept in the existing set'),
        |    (9300003, 'planted batch duplicate arriving twice today'),
        |    (9300006, 'planted batch  duplicate   arriving twice today'))
        |    v(doc_id, text)),
        |inc AS (SELECT doc_id,
        |    md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp
        |  FROM aug WHERE doc_id % 3 = 0),
        |ex AS (SELECT DISTINCT
        |    md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp
        |  FROM aug WHERE doc_id % 3 <> 0),
        |w AS (SELECT doc_id, fp,
        |    ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn FROM inc)
        |SELECT doc_id, fp,
        |  CASE WHEN fp IN (SELECT fp FROM ex) THEN 'dup_corpus'
        |       WHEN rn > 1 THEN 'dup_batch' ELSE 'new' END AS status
        |FROM w ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val extra = Seq(
        (9300001L, "planted corpus page kept in the existing set"),
        (9300000L, "planted corpus page kept in the existing set"),
        (9300003L, "planted batch duplicate arriving twice today"),
        (9300006L, "planted batch  duplicate   arriving twice today"))
        .toDF("doc_id", "text")
      val docs = documents(s, dir).select(col("doc_id"), col("text"))
        .unionByName(extra)
      val incoming = docs.filter(col("doc_id") % 3 === 0)
      val existing = docs.filter(col("doc_id") % 3 =!= 0)
      Dedup.incrementalDedup(incoming, existing, "doc_id", "text")
        .orderBy("doc_id")
    },

    // ---- corpus datasheet: CUBE rollup over (lang, source) ----
    // The dataset-card reporting sweep: every marginal — per lang, per
    // source, per pair, grand total — in ONE cube aggregation. Quality
    // mean uses the grid-snapped exact capture (Exact.gavg) so the
    // double is identical under any partitioning and in DuckDB's
    // GROUP BY CUBE replay; grouping flags mark rolled-up dimensions.
    Q("q124_corpus_datasheet",
      s"""WITH t AS (SELECT lang, source, text,
        |    string_split_regex(trim(lower(text)), '\\s+') AS toks FROM documents),
        |r AS (SELECT lang, source,
        |  CAST(len(toks) AS BIGINT) AS tok,
        |  least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.4
        |    + least(CASE WHEN len(toks) > 0
        |        THEN CAST(len(list_filter(toks, x -> list_contains($stopsSql, x))) AS DOUBLE) / len(toks)
        |        ELSE 0.0 END * 5.0, 1.0) * 0.3
        |    + greatest(0.0, 1.0 - CASE WHEN length(text) > 0
        |        THEN CAST(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE) / length(text)
        |        ELSE 0.0 END * 4.0) * 0.3 AS q,
        |  CAST(length(text) AS BIGINT) AS chars FROM t)
        |SELECT lang, source,
        |  CAST(GROUPING(lang) AS BIGINT) AS g_lang,
        |  CAST(GROUPING(source) AS BIGINT) AS g_source,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(tok) AS BIGINT) AS sum_tokens,
        |  CAST(SUM(CAST(ROUND(q * 1000000.0, 0) AS DECIMAL(30,0))) AS DOUBLE)
        |    / 1000000.0 / COUNT(q) AS avg_q,
        |  MAX(chars) AS max_chars
        |FROM r GROUP BY CUBE (lang, source)
        |ORDER BY g_lang, g_source, lang, source""".stripMargin) { (s, dir) =>
      TextOps.datasheet(documents(s, dir), Seq("lang", "source"), "text", stops)
        .orderBy("g_lang", "g_source", "lang", "source")
    },

    // ---- embedding-space (semantic) decontamination ----
    // The semantic twin of q107: eval = the deterministic md5-quota
    // sample (2 vectors/label), training vectors whose cosine to ANY
    // eval vector reaches 0.33 are flagged with hit count and best
    // match. Cosines are the decimal-exact dot over sqrt-of-exact-dot
    // norms, mirrored term-for-term in the oracle, so the double
    // compare is bit-exact.
    Q("q123_semantic_decon",
      s"""WITH ev AS (SELECT vec_id, embedding FROM (SELECT vec_id, embedding,
        |    ROW_NUMBER() OVER (PARTITION BY label
        |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
        |  FROM embeddings) WHERE rn <= 2),
        |tr AS (SELECT vec_id, embedding FROM embeddings
        |  WHERE vec_id NOT IN (SELECT vec_id FROM ev)),
        |p AS (SELECT tr.vec_id AS tid, ev.vec_id AS eid,
        |    ${dotSql("tr.embedding", "ev.embedding")} /
        |    (sqrt(${dotSql("tr.embedding", "tr.embedding")}) *
        |     sqrt(${dotSql("ev.embedding", "ev.embedding")})) AS cos
        |  FROM tr, ev),
        |f AS (SELECT tid, eid, cos FROM p WHERE cos >= 0.33),
        |w AS (SELECT tid, eid, cos,
        |    ROW_NUMBER() OVER (PARTITION BY tid ORDER BY cos DESC, eid) AS rn,
        |    COUNT(*) OVER (PARTITION BY tid) AS nh FROM f)
        |SELECT tid AS train_id, CAST(nh AS BIGINT) AS n_hits,
        |  eid AS best_eval_id,
        |  CAST(CAST(cos AS DECIMAL(18,9)) AS DOUBLE) AS best_cos
        |FROM w WHERE rn = 1 ORDER BY train_id""".stripMargin) { (s, dir) =>
      // best_cos snaps to DECIMAL(18,9) like q41: DuckDB's
      // decimal(·,18)->double cast double-rounds and can sit one ulp off
      // Spark's correctly-rounded cast
      val em = embeddings(s, dir)
      val ev = graft.ops.Pin.pin(
        TextOps.stratifiedSample(em, "label", "vec_id", k = 2)
          .select(col("vec_id"), col("embedding")))
      val train = em.select(col("vec_id"), col("embedding"))
        .join(ev.select("vec_id"), Seq("vec_id"), "left_anti")
      Similarity.semanticContamination(train, ev, "vec_id", "embedding",
        minCos = 0.33)
        .withColumn("best_cos", col("best_cos")
          .cast(org.apache.spark.sql.types.DecimalType(18, 9)).cast("double"))
        .orderBy("train_id")
    },

    // ---- duplicate n-gram SPAN dedup (substring granularity) ----
    // The exact-substring protocol: a 4-gram occurring >= 2 times
    // anywhere in the corpus marks its positions; per doc, overlapping
    // or adjacent windows merge into maximal spans (gaps-and-islands —
    // identical integer window math in both engines). spans_fp
    // fingerprints the ordered span list so the compare pins WHERE the
    // duplication sits, not just how much.
    Q("q121_dup_spans",
      """WITH t AS (SELECT doc_id,
        |    string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
        |g AS (SELECT doc_id, pos, md5(array_to_string(toks[pos:pos+3], ' ')) AS gh
        |      FROM (SELECT doc_id, toks,
        |              unnest(range(1, greatest(len(toks)-2, 1))) AS pos FROM t)),
        |dup AS (SELECT gh FROM g GROUP BY gh HAVING COUNT(*) >= 2),
        |dp AS (SELECT doc_id, pos FROM g JOIN dup USING (gh)),
        |isl AS (SELECT doc_id, pos,
        |  CASE WHEN pos > COALESCE(MAX(pos + 3) OVER (PARTITION BY doc_id
        |        ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |      -9223372036854775808) + 1
        |     THEN 1 ELSE 0 END AS new_island FROM dp),
        |isl2 AS (SELECT doc_id, pos, SUM(new_island) OVER (PARTITION BY doc_id
        |    ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS island_id FROM isl),
        |sp AS (SELECT doc_id, island_id, MIN(pos) AS s, MAX(pos) + 3 AS e
        |  FROM isl2 GROUP BY doc_id, island_id),
        |st AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup_spans,
        |  CAST(SUM(e - s + 1) AS BIGINT) AS dup_tokens,
        |  md5(string_agg(s || ':' || e, ',' ORDER BY s)) AS spans_fp
        |  FROM sp GROUP BY doc_id),
        |nt AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens FROM t)
        |SELECT st.doc_id, nt.n_tokens, st.n_dup_spans, st.dup_tokens,
        |  nt.n_tokens - st.dup_tokens AS kept_tokens, st.spans_fp
        |FROM st JOIN nt USING (doc_id) ORDER BY st.doc_id""".stripMargin) {
      (s, dir) =>
      Dedup.dupSpanStats(documents(s, dir), "doc_id", "text",
        n = 4, minOccur = 2).orderBy("doc_id")
    },

    // ---- C4-style line/page quality filter ----
    // The published C4 heuristics over the real table plus planted
    // multi-line fixtures (the synthetic docs have no newlines or
    // terminal punctuation, so — exactly like q108's PII fixtures — the
    // union plants every branch: kept/dropped lines, lorem-ipsum page,
    // curly-brace page, a 3-good-line keeper, a 2-good-line reject).
    Q("q111_c4_filter",
      s"""WITH aug AS (SELECT doc_id, text FROM documents
        |  UNION ALL SELECT * FROM (VALUES
        |    (9200001, 'this first line has terminal punctuation and words.' || chr(10) ||
        |       'too short.' || chr(10) ||
        |       'no terminal punctuation on this long line here' || chr(10) ||
        |       'the javascript line should always be dropped outright.' || chr(10) ||
        |       'a second proper sentence with enough words in it!' || chr(10) ||
        |       'and a third proper sentence closes the page, right?'),
        |    (9200002, 'lorem ipsum dolor sit amet makes the page drop.' || chr(10) ||
        |       'even though this line here is perfectly fine.' || chr(10) ||
        |       'and so is this other one with many words too.'),
        |    (9200003, 'a page containing a curly brace { must be dropped.' || chr(10) ||
        |       'despite having plenty of good lines like this one.' || chr(10) ||
        |       'and yet another good line to go with the others.'),
        |    (9200004, 'only two good lines live on this page, sadly.' || chr(10) ||
        |       'so the page-level keep flag must come out false.')) v(doc_id, text)),
        |t AS (SELECT doc_id, text, string_split(text, chr(10)) AS ls FROM aug),
        |k AS (SELECT doc_id, text, len(ls) AS n_lines,
        |    list_filter(ls, l -> regexp_matches(trim(l), '[.!?"]$$')
        |      AND len(string_split_regex(trim(l), '\\s+')) >= 5
        |      AND NOT contains(lower(l), 'javascript')) AS kept
        |  FROM t)
        |SELECT doc_id, CAST(n_lines AS BIGINT) AS n_lines,
        |  CAST(len(kept) AS BIGINT) AS n_kept,
        |  (NOT contains(lower(text), 'lorem ipsum') AND NOT contains(text, '{')
        |    AND len(kept) >= 3) AS keep_doc,
        |  md5(COALESCE(array_to_string(kept, chr(10)), '')) AS cleaned_fp
        |FROM k ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val extra = Seq(
        (9200001L, "this first line has terminal punctuation and words.\ntoo short.\n" +
          "no terminal punctuation on this long line here\n" +
          "the javascript line should always be dropped outright.\n" +
          "a second proper sentence with enough words in it!\n" +
          "and a third proper sentence closes the page, right?"),
        (9200002L, "lorem ipsum dolor sit amet makes the page drop.\n" +
          "even though this line here is perfectly fine.\n" +
          "and so is this other one with many words too."),
        (9200003L, "a page containing a curly brace { must be dropped.\n" +
          "despite having plenty of good lines like this one.\n" +
          "and yet another good line to go with the others."),
        (9200004L, "only two good lines live on this page, sadly.\n" +
          "so the page-level keep flag must come out false.")).toDF("doc_id", "text")
      val aug = documents(s, dir).select(col("doc_id"), col("text")).unionByName(extra)
      TextOps.c4Clean(aug, "doc_id", "text").orderBy("doc_id")
    },

    // ---- sequence packing (training-shard assembly) ----
    // Greedy first-fit packing of tokenized docs into 512-token training
    // sequences, bucketed (doc_id % 8) with md5-pinned order inside each
    // bucket so the per-bucket sequential scans replay in DuckDB as ONE
    // lockstep recursive CTE (all buckets advance one doc per
    // iteration). PackingSpec composes the same output with
    // Csv.shardedSink for the on-disk layout.
    Q("q110_pack_sequences",
      s"""WITH RECURSIVE
        |d AS (SELECT doc_id,
        |    LEAST(CAST(len(string_split_regex(trim(lower(text)), '\\s+')) AS BIGINT), 512) AS t,
        |    doc_id % 8 AS bk, md5(CAST(doc_id AS VARCHAR)) AS h
        |  FROM documents),
        |o AS (SELECT doc_id, t, bk,
        |    ROW_NUMBER() OVER (PARTITION BY bk ORDER BY h, doc_id) AS rn FROM d),
        |pk AS (
        |  SELECT bk, rn, doc_id, t, CAST(0 AS BIGINT) AS seq, t AS fill
        |  FROM o WHERE rn = 1
        |  UNION ALL
        |  SELECT n.bk, n.rn, n.doc_id, n.t,
        |    CASE WHEN p.fill + n.t > 512 AND p.fill > 0 THEN p.seq + 1 ELSE p.seq END,
        |    CASE WHEN p.fill + n.t > 512 AND p.fill > 0 THEN n.t ELSE p.fill + n.t END
        |  FROM pk p JOIN o n ON n.bk = p.bk AND n.rn = p.rn + 1),
        |fr AS (SELECT bk, seq, SUM(t) AS tot FROM pk GROUP BY 1, 2)
        |SELECT p.bk AS bucket, p.seq AS seq, p.doc_id, p.t AS n_tokens,
        |  CAST(f.tot AS DOUBLE) / 512.0 AS fill_ratio
        |FROM pk p JOIN fr f ON p.bk = f.bk AND p.seq = f.seq
        |ORDER BY bucket, seq, doc_id""".stripMargin) { (s, dir) =>
      val docs = documents(s, dir)
        .select(col("doc_id"), TextOps.tokenCount(col("text")).as("n_toks"))
      Packing.packSequences(docs, "doc_id", "n_toks", maxLen = 512, buckets = 8)
        .orderBy("bucket", "seq", "doc_id")
    },

    // ---- prefix-filtered EXACT Jaccard join (AllPairs scale path) ----
    // Same answer as q77 by a different algorithm: the engine generates
    // candidates from global-frequency-ordered PREFIXES (rarest shingles
    // first, |d|-ceil(t|d|)+1 of them) plus a length filter, so the hot
    // boilerplate shingles never reach the join; the oracle replays the
    // PLAIN full shingle equi-join in DuckDB. The hash compare therefore
    // proves the prefix filter loses no qualifying pair — second-engine
    // cross-algorithm equality, the q127 pattern.
    Q("q128_prefix_jaccard",
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t FROM documents),
        |shl AS (
        |  SELECT doc_id, CASE WHEN len(t) >= 3 THEN
        |      list_distinct(list_transform(range(1, len(t)-1), i -> array_to_string(t[i:i+2], ' ')))
        |    ELSE [array_to_string(t, ' ')] END AS shs
        |  FROM toks WHERE t IS NOT NULL),
        |sh AS (SELECT DISTINCT doc_id, unnest(shs) AS s FROM shl),
        |sizes AS (SELECT doc_id, COUNT(*) AS nsh FROM sh GROUP BY 1),
        |common AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1,2)
        |SELECT id_a, id_b, CAST(n_common AS BIGINT) AS n_common,
        |  CAST(sa.nsh AS BIGINT) AS n_a, CAST(sb.nsh AS BIGINT) AS n_b,
        |  CAST(n_common AS DOUBLE) / (sa.nsh + sb.nsh - n_common) AS jaccard
        |FROM common JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
        |WHERE CAST(n_common AS DOUBLE) / (sa.nsh + sb.nsh - n_common) >= 0.5
        |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
      Dedup.prefixJaccardPairs(documents(s, dir), "doc_id", "text",
        shingleSize = 3, threshold = 0.5)
        .orderBy("id_a", "id_b")
    },

    // ---- KMV distinct-count sketch (distinct tokens per language) ----
    // Bottom-k over md5-derived 64-bit hashes: the compare pins the
    // EXACT k-th order statistic (sketch state), the estimate is one
    // fixed-association double expression over exactly-representable
    // constants (2^63, 2^64), and n_exact rides along as the quality
    // row. HLL++ (approx_count_distinct) can't be oracle-checked —
    // its registers are Spark-private; KMV is engine-neutral.
    Q("q129_kmv_distinct",
      s"""WITH t AS (SELECT lang,
        |    unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
        |  FROM documents),
        |tk AS (SELECT lang, tok FROM t WHERE tok IS NOT NULL AND tok <> ''),
        |hv AS (SELECT * FROM ${md5Hash64Sql("lang, tok", "md5(tok)",
               "(SELECT DISTINCT lang, tok FROM tk)", "h")}),
        |dh AS (SELECT DISTINCT lang, h FROM hv),
        |r AS (SELECT lang, h,
        |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h) AS rn FROM dh),
        |ex AS (SELECT lang, COUNT(*) AS n_exact FROM dh GROUP BY 1),
        |kth AS (SELECT lang, MAX(h) AS kth_min, COUNT(*) AS n_in
        |  FROM r WHERE rn <= 256 GROUP BY 1)
        |SELECT kth.lang, CAST(256 AS BIGINT) AS k, kth.kth_min,
        |  CAST(ex.n_exact AS BIGINT) AS n_exact,
        |  CASE WHEN kth.n_in < 256 THEN CAST(ex.n_exact AS DOUBLE)
        |    ELSE 255.0 / ((CAST(kth.kth_min AS DOUBLE) + 9223372036854775808.0)
        |      / 18446744073709551616.0) END AS est_distinct
        |FROM kth JOIN ex USING (lang) ORDER BY lang""".stripMargin) { (s, dir) =>
      val toks = documents(s, dir)
        .select(col("lang"), explode(TextOps.tokens(col("text"))).as("tok"))
        .filter(col("tok").isNotNull && col("tok") =!= "")
      Sketch.kmvDistinct(toks, "lang", "tok", k = 256).orderBy("lang")
    },

    // ---- count-min sketch heavy-hitter estimates ----
    // 4x1024 counter table over the full token stream, probed for fixed
    // keys (frequent, mid, and an absent one — the estimate is biased
    // up, never down; n_exact rides along so the round records the
    // bias). Salted md5 row hashes replay in DuckDB; pmod via
    // ((h % w) + w) % w on both sides.
    Q("q130_cms_heavy_hitters",
      s"""WITH t AS (SELECT
        |    unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
        |  FROM documents),
        |tk AS (SELECT tok FROM t WHERE tok IS NOT NULL AND tok <> ''),
        |hv AS (SELECT * FROM ${md5Hash64Sql("tok, r",
               "md5(tok || '#cms' || CAST(r AS VARCHAR))",
               "(SELECT tok, i AS r FROM tk, range(4) t2(i))", "h")}),
        |cells AS (SELECT r, ((h % 1024) + 1024) % 1024 AS b, COUNT(*) AS c
        |  FROM hv GROUP BY 1, 2),
        |pr AS (SELECT * FROM (VALUES ('join'), ('hash'), ('scan'),
        |    ('zzzabsent')) v(tok)),
        |ph AS (SELECT * FROM ${md5Hash64Sql("tok, r",
               "md5(tok || '#cms' || CAST(r AS VARCHAR))",
               "(SELECT tok, i AS r FROM pr, range(4) t3(i))", "h")}),
        |pc AS (SELECT tok, r, ((h % 1024) + 1024) % 1024 AS b FROM ph),
        |est AS (SELECT tok, MIN(COALESCE(c, 0)) AS est FROM pc
        |  LEFT JOIN cells USING (r, b) GROUP BY 1),
        |ex AS (SELECT tok, COUNT(*) AS n_exact FROM tk
        |  WHERE tok IN (SELECT tok FROM pr) GROUP BY 1)
        |SELECT est.tok, CAST(est.est AS BIGINT) AS est,
        |  CAST(COALESCE(ex.n_exact, 0) AS BIGINT) AS n_exact
        |FROM est LEFT JOIN ex USING (tok) ORDER BY tok""".stripMargin) { (s, dir) =>
      import s.implicits._
      val toks = documents(s, dir)
        .select(explode(TextOps.tokens(col("text"))).as("tok"))
        .filter(col("tok").isNotNull && col("tok") =!= "")
      val probes = Seq("join", "hash", "scan", "zzzabsent").toDF("tok")
      Sketch.cmsHeavyHitters(toks, "tok", probes, depth = 4, width = 1024)
        .orderBy("tok")
    },

    // ---- KMV overlap estimation (sketch-based join cardinality) ----
    // Pairwise vocabulary overlap between languages FROM SKETCH STATE
    // ALONE (Beyer 2007): merge two bottom-k sketches, keep the k
    // smallest (the union's own sketch), count the survivors present in
    // both — kappa/k estimates Jaccard, times the union estimate gives
    // |A∩B| without touching raw data again. The optimizer-statistics
    // technique for join-size estimation. Exact n_common rides along as
    // the quality row; the pair computation is one row per group pair.
    Q("q134_kmv_overlap",
      s"""WITH t AS (SELECT lang,
        |    unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
        |  FROM documents),
        |tk AS (SELECT DISTINCT lang, tok FROM t
        |  WHERE tok IS NOT NULL AND tok <> ''),
        |hv AS (SELECT * FROM ${md5Hash64Sql("lang, tok", "md5(tok)", "tk", "h")}),
        |dh AS (SELECT DISTINCT lang, h FROM hv),
        |r AS (SELECT lang, h,
        |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h) AS rn FROM dh),
        |sk AS (SELECT lang, list_sort(list(h)) AS s FROM r WHERE rn <= 256
        |  GROUP BY 1),
        |pr AS (SELECT a.lang AS g_a, b.lang AS g_b, a.s AS ska, b.s AS skb
        |  FROM sk a JOIN sk b ON a.lang < b.lang),
        |c AS (SELECT g_a, g_b, ska, skb,
        |    list_sort(list_distinct(list_concat(ska, skb)))[1:256] AS ku FROM pr),
        |d AS (SELECT g_a, g_b, ku,
        |    len(list_intersect(list_intersect(ku, ska), skb)) AS kappa,
        |    len(ku) AS keff, ku[len(ku)] AS union_kth FROM c),
        |e AS (SELECT g_a, g_b, kappa, keff, union_kth,
        |    CASE WHEN keff < 256 THEN CAST(keff AS DOUBLE)
        |      ELSE 255.0 / ((CAST(union_kth AS DOUBLE) + 9223372036854775808.0)
        |        / 18446744073709551616.0) END AS est_union,
        |    CAST(kappa AS DOUBLE) / CAST(keff AS DOUBLE) AS est_jaccard
        |  FROM d),
        |ex AS (SELECT x.lang AS xg_a, y.lang AS xg_b, COUNT(*) AS n_common
        |  FROM dh x JOIN dh y ON x.h = y.h AND x.lang < y.lang GROUP BY 1, 2)
        |SELECT e.g_a, e.g_b, CAST(e.kappa AS BIGINT) AS kappa,
        |  CAST(256 AS BIGINT) AS k, e.union_kth, e.est_union, e.est_jaccard,
        |  e.est_jaccard * e.est_union AS est_intersection,
        |  CAST(COALESCE(ex.n_common, 0) AS BIGINT) AS n_common
        |FROM e LEFT JOIN ex ON ex.xg_a = e.g_a AND ex.xg_b = e.g_b
        |ORDER BY e.g_a, e.g_b""".stripMargin) { (s, dir) =>
      val toks = documents(s, dir)
        .select(col("lang"), explode(TextOps.tokens(col("text"))).as("tok"))
        .filter(col("tok").isNotNull && col("tok") =!= "")
      Sketch.kmvOverlap(toks, "lang", "tok", k = 256).orderBy("g_a", "g_b")
    },

    // ---- incremental corpus-stats maintenance (sketch merge law) ----
    // The maintained-stats-table pattern (q126's shape for statistics):
    // per-lang (n_docs, n_tokens, KMV vocab sketch) computed for the
    // existing corpus and for today's batch SEPARATELY, then merged —
    // counts add, sketches take the bottom-k of the union — with no
    // rescan of history. The oracle computes the same stats FROM
    // SCRATCH over everything: equality proves the merge law
    // end-to-end on real data (incremental ≡ recompute).
    Q("q135_incremental_stats",
      s"""WITH t AS (SELECT lang, doc_id, text,
        |    string_split_regex(trim(lower(text)), '\\s+') AS toks FROM documents),
        |cnt AS (SELECT lang, COUNT(*) AS n_docs,
        |    CAST(SUM(len(toks)) AS BIGINT) AS n_tokens FROM t GROUP BY 1),
        |tk AS (SELECT DISTINCT lang, unnest(toks) AS tok FROM t),
        |tkf AS (SELECT lang, tok FROM tk WHERE tok IS NOT NULL AND tok <> ''),
        |hv AS (SELECT * FROM ${md5Hash64Sql("lang, tok", "md5(tok)", "tkf", "h")}),
        |dh AS (SELECT DISTINCT lang, h FROM hv),
        |r AS (SELECT lang, h,
        |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h) AS rn FROM dh),
        |sk AS (SELECT lang, MAX(h) AS kth_min, COUNT(*) AS n_in
        |  FROM r WHERE rn <= 256 GROUP BY 1)
        |SELECT cnt.lang, cnt.n_docs, cnt.n_tokens, sk.kth_min,
        |  CASE WHEN sk.n_in < 256 THEN CAST(sk.n_in AS DOUBLE)
        |    ELSE 255.0 / ((CAST(sk.kth_min AS DOUBLE) + 9223372036854775808.0)
        |      / 18446744073709551616.0) END AS est_distinct
        |FROM cnt JOIN sk USING (lang) ORDER BY lang""".stripMargin) { (s, dir) =>
      def stats(docs: org.apache.spark.sql.DataFrame) = {
        val cnt = docs.groupBy("lang").agg(
          count(lit(1)).as("n_docs"),
          sum(TextOps.tokenCount(col("text"))).as("n_tokens"))
        val toks = docs
          .select(col("lang"), explode(TextOps.tokens(col("text"))).as("tok"))
          .filter(col("tok").isNotNull && col("tok") =!= "")
        cnt.join(Sketch.kmvState(toks, "lang", "tok", k = 256), Seq("lang"), "left")
      }
      val docs = documents(s, dir)
      val corpus = stats(docs.filter(col("doc_id") % 3 =!= 0))
      val batch = stats(docs.filter(col("doc_id") % 3 === 0))
      val empty = array().cast("array<long>")
      val merged = corpus.select(col("lang"), col("n_docs").as("d_a"),
          col("n_tokens").as("t_a"), col("sk").as("sk_a"))
        .join(batch.select(col("lang"), col("n_docs").as("d_b"),
          col("n_tokens").as("t_b"), col("sk").as("sk_b")), Seq("lang"), "full_outer")
        .select(col("lang"),
          (coalesce(col("d_a"), lit(0L)) + coalesce(col("d_b"), lit(0L))).as("n_docs"),
          (coalesce(col("t_a"), lit(0L)) + coalesce(col("t_b"), lit(0L))).as("n_tokens"),
          Sketch.kmvMerge(coalesce(col("sk_a"), empty),
            coalesce(col("sk_b"), empty), 256).as("sk"))
      merged.select(col("lang"), col("n_docs"), col("n_tokens"),
          element_at(col("sk"), size(col("sk"))).as("kth_min"),
          Sketch.kmvEstimate(col("sk"), 256).as("est_distinct"))
        .orderBy("lang")
    },

    // ---- KMV via single-pass Aggregator (streaming-maintainable) ----
    // Same answer as q129 (the oracle is the identical replay) computed
    // by the map-side-combinable KmvAgg aggregator instead of the
    // two-stage window top-k: each partition ships at most k longs per
    // group through the shuffle. The SAME aggregator runs incrementally
    // under Structured Streaming (StreamingSpec stream ≡ batch parity),
    // so a live ingest keeps this sketch current without re-scans.
    Q("q136_kmv_agg_distinct",
      s"""WITH t AS (SELECT lang,
        |    unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
        |  FROM documents),
        |tk AS (SELECT lang, tok FROM t WHERE tok IS NOT NULL AND tok <> ''),
        |hv AS (SELECT * FROM ${md5Hash64Sql("lang, tok", "md5(tok)",
               "(SELECT DISTINCT lang, tok FROM tk)", "h")}),
        |dh AS (SELECT DISTINCT lang, h FROM hv),
        |r AS (SELECT lang, h,
        |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h) AS rn FROM dh),
        |ex AS (SELECT lang, COUNT(*) AS n_exact FROM dh GROUP BY 1),
        |kth AS (SELECT lang, MAX(h) AS kth_min, COUNT(*) AS n_in
        |  FROM r WHERE rn <= 256 GROUP BY 1)
        |SELECT kth.lang, CAST(256 AS BIGINT) AS k, kth.kth_min,
        |  CAST(ex.n_exact AS BIGINT) AS n_exact,
        |  CASE WHEN kth.n_in < 256 THEN CAST(ex.n_exact AS DOUBLE)
        |    ELSE 255.0 / ((CAST(kth.kth_min AS DOUBLE) + 9223372036854775808.0)
        |      / 18446744073709551616.0) END AS est_distinct
        |FROM kth JOIN ex USING (lang) ORDER BY lang""".stripMargin) { (s, dir) =>
      val dh = documents(s, dir)
        .select(col("lang"), explode(TextOps.tokens(col("text"))).as("tok"))
        .filter(col("tok").isNotNull && col("tok") =!= "")
        .select(col("lang"), Dedup.md5Hash64(col("tok")).as("h"))
        .distinct()
      dh.groupBy("lang")
        .agg(graft.sketch.KmvAgg.kmv(col("h"), 256).as("sk"),
          count(lit(1)).as("n_exact"))
        .select(col("lang"), lit(256L).as("k"),
          element_at(col("sk"), size(col("sk"))).as("kth_min"), col("n_exact"),
          Sketch.kmvEstimate(col("sk"), 256).as("est_distinct"))
        .orderBy("lang")
    },

    // ---- CMS-backed rare-bigram scoring (sketch as feature source) ----
    // The approximate-frequency-feature composition: a count-min table
    // over corpus bigrams collapses to depth*width longs, ships into
    // the scan as a literal, and scores every document's bigrams with
    // ZERO joins or shuffles — the per-doc rare fraction is a fluency /
    // contamination signal a 100 TB pipeline cannot afford to compute
    // with an exact (vocab-sized) frequency join. Estimates are biased
    // up only, so "rare" is conservative; oracle replays the full
    // counter table and the same min-of-rows probe per distinct bigram.
    Q("q137_cms_rare_ratio",
      s"""WITH t AS (SELECT doc_id,
        |    string_split_regex(trim(lower(text)), '\\s+') AS toks FROM documents),
        |gl AS (SELECT doc_id, CASE WHEN len(toks) >= 2 THEN
        |      list_transform(range(1, len(toks)), i -> array_to_string(toks[i:i+1], ' '))
        |    ELSE [array_to_string(toks, ' ')] END AS gs FROM t),
        |occ AS (SELECT doc_id, unnest(gs) AS bg FROM gl),
        |hv AS (SELECT * FROM ${md5Hash64Sql("bg, r",
               "md5(bg || '#cms' || CAST(r AS VARCHAR))",
               "(SELECT bg, i AS r FROM occ, range(4) t2(i))", "h")}),
        |cells AS (SELECT r, ((h % 4096) + 4096) % 4096 AS b, COUNT(*) AS c
        |  FROM hv GROUP BY 1, 2),
        |dt AS (SELECT DISTINCT bg FROM occ),
        |dhv AS (SELECT * FROM ${md5Hash64Sql("bg, r",
               "md5(bg || '#cms' || CAST(r AS VARCHAR))",
               "(SELECT bg, i AS r FROM dt, range(4) t3(i))", "h")}),
        |db AS (SELECT bg, r, ((h % 4096) + 4096) % 4096 AS b FROM dhv),
        |est AS (SELECT bg, MIN(c) AS est FROM db JOIN cells USING (r, b) GROUP BY 1),
        |cnt AS (SELECT o.doc_id, COUNT(*) AS n_grams,
        |    COUNT(*) FILTER (WHERE e.est < 20) AS n_rare
        |  FROM occ o JOIN est e USING (bg) GROUP BY 1)
        |SELECT d.doc_id, CAST(COALESCE(cnt.n_grams, 0) AS BIGINT) AS n_grams,
        |  CAST(COALESCE(cnt.n_rare, 0) AS BIGINT) AS n_rare,
        |  CASE WHEN COALESCE(cnt.n_grams, 0) > 0
        |    THEN CAST(cnt.n_rare AS DOUBLE) / cnt.n_grams ELSE 0.0 END AS rare_ratio
        |FROM (SELECT doc_id FROM documents) d LEFT JOIN cnt USING (doc_id)
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val docs = documents(s, dir)
      val occ = graft.ops.Pin.pin(docs
        .select(col("doc_id"), explode(TextOps.wordNgrams(col("text"), 2)).as("bg")))
      // hash once per DISTINCT gram, both for the cells (weighted by
      // occurrence count) and for the estimates, which then join back
      // onto the occurrence stream (AQE-sized — the distinct-gram set
      // is data-dependent) — vocabulary-sized hashing, not corpus-sized
      val gcounts = graft.ops.Pin.pin(occ.groupBy("bg").agg(count(lit(1)).as("n")))
      val cells = Sketch.cmsCellsArray(gcounts, "bg", depth = 4, width = 4096,
        weightCol = Some("n"))
      val est = gcounts.select(col("bg"),
        Sketch.cmsEstimate(col("bg"), cells, depth = 4, width = 4096).as("est"))
      val perDoc = occ.join(est, "bg")
        .groupBy("doc_id").agg(count(lit(1)).as("n_grams"),
          count(when(col("est") < 20L, lit(1))).as("n_rare"))
      docs.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_grams"), lit(0L)).as("n_grams"),
          coalesce(col("n_rare"), lit(0L)).as("n_rare"))
        .withColumn("rare_ratio",
          when(col("n_grams") > 0,
            col("n_rare").cast("double") / col("n_grams")).otherwise(lit(0.0)))
        .orderBy("doc_id")
    },

    // ---- rendezvous (HRW) shard routing ----
    // Consistent ingest routing: argmax over shards of a salted key
    // hash. Unlike pmod, shrinking the shard set reassigns ONLY the
    // removed shard's keys (ShardSpec pins that property); assignment
    // is a pure scan projection. Oracle replays the same argmax per
    // key over the identical md5 hash family.
    Q("q138_rendezvous_shards",
      s"""WITH hv AS (SELECT * FROM ${md5Hash64Sql("doc_id, r",
             "md5(CAST(doc_id AS VARCHAR) || '#shard' || CAST(r AS VARCHAR))",
             "(SELECT doc_id, i AS r FROM documents, range(16) t(i))", "h")})
        |SELECT doc_id, CAST(arg_max(r, h) AS BIGINT) AS shard
        |FROM hv GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      documents(s, dir)
        .select(col("doc_id"),
          graft.ops.Shard.rendezvous(col("doc_id"), 16).as("shard"))
        .orderBy("doc_id")
    },

    // ---- priority sampling (weighted, unbiased subset sums) ----
    // Duffield-Lund-Thorup (JACM 2007): top-k by w/u priority with
    // u from the salted md5 family; ŵ = max(w, τ) at the (k+1)-th
    // priority threshold makes any subset sum estimable from the
    // sample. Every double step is a fixed association of correctly-
    // rounded ops over exact constants (2^63, 2^64), so DuckDB replays
    // the identical priorities and the identical top-k.
    Q("q140_priority_sample",
      s"""WITH w AS (SELECT doc_id,
        |    CAST(len(string_split_regex(trim(lower(text)), '\\s+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |wp AS (SELECT * FROM w WHERE n_tokens > 0),
        |hv AS (SELECT * FROM ${md5Hash64Sql("doc_id, n_tokens",
               "md5(CAST(doc_id AS VARCHAR) || '#ps')", "wp", "h")}),
        |p AS (SELECT doc_id, n_tokens,
        |    CAST(n_tokens AS DOUBLE) /
        |      (((CAST(h AS DOUBLE) + CAST(9223372036854775808.0 AS DOUBLE))
        |          + CAST(1.0 AS DOUBLE))
        |        / CAST(18446744073709551616.0 AS DOUBLE)) AS pri
        |  FROM hv),
        |r AS (SELECT doc_id, n_tokens, pri,
        |    ROW_NUMBER() OVER (ORDER BY pri DESC, doc_id) AS rn FROM p),
        |t AS (SELECT MAX(CASE WHEN rn = 101 THEN pri END) AS tau FROM r)
        |SELECT CAST(r.rn AS BIGINT) AS smp_rank, r.doc_id, r.n_tokens,
        |  GREATEST(CAST(r.n_tokens AS DOUBLE),
        |    COALESCE(t.tau, CAST(0.0 AS DOUBLE))) AS w_hat
        |FROM r, t WHERE r.rn <= 100 ORDER BY smp_rank""".stripMargin) { (s, dir) =>
      val docs = documents(s, dir).select(col("doc_id"),
        TextOps.tokenCount(col("text")).as("n_tokens"))
      graft.ops.Sampling.prioritySample(docs, "doc_id", "n_tokens", k = 100)
        .orderBy("smp_rank")
    },

    // ---- HyperLogLog registers (distinct tokens per language) ----
    // Flajolet et al. 2007 on the same task as q129/q136, so the two
    // distinct-sketch families are directly comparable. Everything is
    // exactly replayable: bucket = top-9 hash bits (HUGEINT floor-div),
    // ρ via binary-string length, the harmonic sum as an EXACT
    // DECIMAL(38,0) sum of powers of two scaled by 2^56 (a double
    // accumulation would be partition-order-sensitive — the terms span
    // more than 53 bits), and the α·m²/Σ readout as one fixed
    // association of correctly-rounded double ops. Raw estimator only:
    // linear-counting/HLL++ corrections need ln / empirical tables
    // that no second engine replays bit-for-bit.
    Q("q141_hll_distinct",
      s"""WITH t AS (SELECT lang,
        |    unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
        |  FROM documents),
        |tk AS (SELECT lang, tok FROM t WHERE tok IS NOT NULL AND tok <> ''),
        |hv AS (SELECT * FROM ${md5Hash64Sql("lang, tok", "md5(tok)",
               "(SELECT DISTINCT lang, tok FROM tk)", "h")}),
        |dh AS (SELECT DISTINCT lang, h FROM hv),
        |b AS (SELECT lang,
        |    CAST((CASE WHEN h >= 0 THEN CAST(h AS HUGEINT)
        |      ELSE CAST(h AS HUGEINT) + 18446744073709551616::HUGEINT END)
        |      // 36028797018963968::HUGEINT AS BIGINT) AS bucket,
        |    CAST((CASE WHEN h >= 0 THEN CAST(h AS HUGEINT)
        |      ELSE CAST(h AS HUGEINT) + 18446744073709551616::HUGEINT END)
        |      % 36028797018963968::HUGEINT AS BIGINT) AS w
        |  FROM dh),
        |r AS (SELECT lang, bucket,
        |    MAX(CASE WHEN w = 0 THEN 56 ELSE 56 - length(bin(w)) END) AS reg
        |  FROM b GROUP BY 1, 2),
        |st AS (SELECT lang, COUNT(*) AS n_regs,
        |    SUM(CAST(1::BIGINT << (56 - reg) AS DECIMAL(38,0))) AS sp
        |  FROM r GROUP BY 1),
        |ex AS (SELECT lang, COUNT(*) AS n_exact FROM dh GROUP BY 1),
        |fin AS (SELECT st.lang, (512 - st.n_regs) AS v_zero,
        |    st.sp + CAST(CAST(512 - st.n_regs AS HUGEINT)
        |      * 72057594037927936::HUGEINT AS DECIMAL(38,0)) AS s,
        |    ex.n_exact
        |  FROM st JOIN ex USING (lang))
        |SELECT lang, CAST(v_zero AS BIGINT) AS v_zero,
        |  CAST(s AS DOUBLE) AS reg_sum, CAST(n_exact AS BIGINT) AS n_exact,
        |  ((((CAST(0.7213 AS DOUBLE) / (CAST(1.0 AS DOUBLE)
        |        + CAST(1.079 AS DOUBLE) / CAST(512.0 AS DOUBLE)))
        |      * CAST(512.0 AS DOUBLE)) * CAST(512.0 AS DOUBLE))
        |    * CAST(72057594037927936.0 AS DOUBLE)) / CAST(s AS DOUBLE) AS est_hll
        |FROM fin ORDER BY lang""".stripMargin) { (s, dir) =>
      val toks = documents(s, dir)
        .select(col("lang"), explode(TextOps.tokens(col("text"))).as("tok"))
        .filter(col("tok").isNotNull && col("tok") =!= "")
      Sketch.hllDistinct(toks, "lang", "tok", p = 9)
        .select(col("g").as("lang"), col("v_zero"), col("reg_sum"),
          col("n_exact"), col("est_hll"))
        .orderBy("lang")
    },

    // ---- composed capstone: BPE-tokenize → pack → shard-route ----
    // The last unchained segment of the training-data path as ONE
    // oracle-checked DAG: merges learned from the corpus (q116
    // protocol), per-doc BPE token totals via the AQE-sized vocab join
    // (q147), greedy first-fit packing of those totals into 512-token
    // sequences in 8 md5-ordered buckets (q110), and a rendezvous-
    // hashed shard id per packed sequence (q138) — the assignment
    // `Csv.shardedSink` writes by. The oracle replays the entire chain:
    // the merge CTEs, the recursive lockstep pack, and the HRW argmax,
    // so the hash compare certifies the composition end-to-end, not
    // just the stages in isolation.
    //
    // Scale shape is inherited per stage and nothing new crosses a
    // shuffle: the corpus streams once through the AQE-sized seg join,
    // packing exchanges only (doc_id, count, bucket), and the shard id
    // is a scan projection over the packed frame.
    Q("q148_tokenize_pack_shard",
      s"""WITH RECURSIVE ${OracleSql.bpePerDocSql(6)},
        |pd AS (SELECT dd.doc_id,
        |    LEAST(CAST(COALESCE(per.n_bpe_tokens, 0) AS BIGINT), 512) AS t,
        |    dd.doc_id % 8 AS bk, md5(CAST(dd.doc_id AS VARCHAR)) AS h
        |  FROM (SELECT doc_id FROM documents) dd LEFT JOIN per USING (doc_id)),
        |o AS (SELECT doc_id, t, bk,
        |    ROW_NUMBER() OVER (PARTITION BY bk ORDER BY h, doc_id) AS rn FROM pd),
        |pk AS (
        |  SELECT bk, rn, doc_id, t, CAST(0 AS BIGINT) AS sq, t AS fill
        |  FROM o WHERE rn = 1
        |  UNION ALL
        |  SELECT n.bk, n.rn, n.doc_id, n.t,
        |    CASE WHEN p.fill + n.t > 512 AND p.fill > 0 THEN p.sq + 1 ELSE p.sq END,
        |    CASE WHEN p.fill + n.t > 512 AND p.fill > 0 THEN n.t ELSE p.fill + n.t END
        |  FROM pk p JOIN o n ON n.bk = p.bk AND n.rn = p.rn + 1),
        |fr AS (SELECT bk, sq, SUM(t) AS tot FROM pk GROUP BY 1, 2),
        |ks AS (SELECT bk, sq,
        |    CAST(bk AS VARCHAR) || ':' || CAST(sq AS VARCHAR) AS k
        |  FROM (SELECT DISTINCT bk, sq FROM pk)),
        |hv AS (SELECT * FROM ${OracleSql.md5Hash64Sql("bk, sq, r",
               "md5(k || '#shard' || CAST(r AS VARCHAR))",
               "(SELECT bk, sq, k, i AS r FROM ks, range(16) t(i))", "h2")}),
        |sh AS (SELECT bk, sq, CAST(arg_max(r, h2) AS BIGINT) AS shard
        |  FROM hv GROUP BY 1, 2)
        |SELECT p.bk AS bucket, p.sq AS seq, p.doc_id, p.t AS n_tokens,
        |  CAST(f.tot AS DOUBLE) / 512.0 AS fill_ratio, sh.shard
        |FROM pk p
        |JOIN fr f ON p.bk = f.bk AND p.sq = f.sq
        |JOIN sh ON p.bk = sh.bk AND p.sq = sh.sq
        |ORDER BY bucket, seq, doc_id""".stripMargin) { (s, dir) =>
      val docs = documents(s, dir)
      val vocab = graft.ops.Pin.pin(graft.text.Bpe.wordCounts(docs, "text"))
      val merges = graft.text.Bpe.learnMerges(vocab, "word", "cnt", 6)
      val seg = graft.text.Bpe.segment(vocab.select(col("word")), "word", merges)
        .select(col("word"), size(col("tokens")).cast("long").as("n_toks"))
      val occ = docs.select(col("doc_id"),
          explode(split(lower(col("text")), "\\s+")).as("word"))
        .filter(col("word").rlike("^[a-z]+$"))
      val counts = docs.select(col("doc_id"))
        .join(occ.join(seg, "word")
          .groupBy("doc_id").agg(sum(col("n_toks")).as("n_bpe")),
          Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("n_bpe"), lit(0L)).as("n_bpe"))
      Packing.packSequences(counts, "doc_id", "n_bpe", maxLen = 512, buckets = 8)
        .withColumn("shard", graft.ops.Shard.rendezvous(
          concat_ws(":", col("bucket"), col("seq")), 16))
        .orderBy("bucket", "seq", "doc_id")
    },

    // ---- Gopher document-quality rules (Rae et al. 2021 A1.1) ----
    // The published document-level sibling of q111's C4 line rules:
    // word-count bounds, mean word length, symbol-to-word ratio,
    // bullet/ellipsis line ratios, alphabetic-word share, stop-word
    // presence. Scan-projection only. The fixture union plants one
    // violation per rule (q111's pattern — synthetic corpus docs are
    // single-line and can't exercise the line-ratio branches): a
    // keeper, a too-short doc, a long-word doc, a hash-symbol doc, a
    // bullet page, an ellipsis page, a numeric page, a stopword-free
    // page. Every ratio is ONE double division over engine-identical
    // integers, so the keep flag replays bit-for-bit.
    Q("q149_gopher_filter",
      """WITH aug AS (SELECT doc_id, text FROM documents
        |  UNION ALL SELECT * FROM (VALUES
        |    (9300001, 'the quick brown fox jumps over a lazy dog of june and that nearby have with style ' || repeat('plain word filler text goes here ', 6)),
        |    (9300002, 'just ten small words live inside this tiny doc here'),
        |    (9300003, repeat('incomprehensibilities ', 48) || 'of the and that have with'),
        |    (9300004, 'the of and that have with ' || repeat('tag#one ', 46)),
        |    (9300005, repeat('- item the of and filler words here' || chr(10), 10)),
        |    (9300006, repeat('a plain line with the of and words' || chr(10), 6) ||
        |       repeat('this line trails off with and the...' || chr(10), 4)),
        |    (9300007, 'the of and that have with ' || repeat('12345 ', 46)),
        |    (9300008, repeat('plain filler words appear here again ', 9))) v(doc_id, text)),
        |t AS (SELECT doc_id, text,
        |    string_split_regex(trim(lower(text)), '\s+') AS tk,
        |    string_split(text, chr(10)) AS ls
        |  FROM aug),
        |m AS (SELECT doc_id,
        |    CAST(len(tk) AS BIGINT) AS n_words,
        |    CAST(list_sum(list_transform(tk, x -> length(x))) AS DOUBLE)
        |      / len(tk) AS mean_word_len,
        |    CAST((length(text) - length(replace(text, '#', '')))
        |      + (length(text) - length(replace(text, '...', ''))) / 3 AS DOUBLE)
        |      / len(tk) AS symbol_ratio,
        |    CAST(len(list_filter(ls, l -> regexp_matches(trim(l), '^[-*•]'))) AS DOUBLE)
        |      / len(ls) AS bullet_ratio,
        |    CAST(len(list_filter(ls, l -> regexp_matches(trim(l), '\.\.\.$'))) AS DOUBLE)
        |      / len(ls) AS ellipsis_ratio,
        |    CAST(len(list_filter(tk, w -> regexp_matches(w, '[a-z]'))) AS DOUBLE)
        |      / len(tk) AS alpha_ratio,
        |    CAST(len(list_filter(['the','be','to','of','and','that','have','with'],
        |        s -> list_contains(tk, s))) AS BIGINT) AS n_stopwords
        |  FROM t)
        |SELECT doc_id, n_words, mean_word_len, symbol_ratio, bullet_ratio,
        |  ellipsis_ratio, alpha_ratio, n_stopwords,
        |  (n_words BETWEEN 50 AND 100000
        |    AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
        |    AND symbol_ratio <= 0.1
        |    AND bullet_ratio <= 0.9
        |    AND ellipsis_ratio <= 0.3
        |    AND alpha_ratio >= 0.8
        |    AND n_stopwords >= 2) AS keep_doc
        |FROM m ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val extra = Seq(
        (9300001L, "the quick brown fox jumps over a lazy dog of june and that nearby have with style " +
          "plain word filler text goes here " * 6),
        (9300002L, "just ten small words live inside this tiny doc here"),
        (9300003L, "incomprehensibilities " * 48 + "of the and that have with"),
        (9300004L, "the of and that have with " + "tag#one " * 46),
        (9300005L, "- item the of and filler words here\n" * 10),
        (9300006L, "a plain line with the of and words\n" * 6 +
          "this line trails off with and the...\n" * 4),
        (9300007L, "the of and that have with " + "12345 " * 46),
        (9300008L, "plain filler words appear here again " * 9)).toDF("doc_id", "text")
      val aug = documents(s, dir).select(col("doc_id"), col("text")).unionByName(extra)
      TextOps.gopherQuality(aug, "doc_id", "text").orderBy("doc_id")
    },

    // ---- deterministic hash-based train/val/test split ----
    // The standard corpus partition: u = (md5Hash64(id ++ '#split') +
    // 2^63) / 2^64 in [0,1), first-cumulative-threshold assignment at
    // 0.8 / 0.1 / 0.1. Stable under reruns, repartitioning, AND corpus
    // growth (an id's split never changes when other docs arrive — what
    // keeps eval sets fixed across crawl snapshots); a pure scan
    // projection, vs. sampling-based splits that need a count or a seed
    // contract. The 0.9000000000000001 threshold literal IS the IEEE
    // sum 0.8 + 0.1 — the driver accumulates in IEEE order and the
    // oracle embeds the identical double, so boundary ids agree.
    Q("q150_hash_split",
      s"""WITH hv AS (SELECT * FROM ${OracleSql.md5Hash64Sql("doc_id",
             "md5(CAST(doc_id AS VARCHAR) || '#split')", "documents", "h")}),
        |u AS (SELECT doc_id,
        |    (CAST(h AS DOUBLE) + CAST(9223372036854775808.0 AS DOUBLE))
        |      / CAST(18446744073709551616.0 AS DOUBLE) AS u_unit
        |  FROM hv)
        |SELECT doc_id, u_unit,
        |  CASE WHEN u_unit < CAST(0.8 AS DOUBLE) THEN 'train'
        |       WHEN u_unit < CAST(0.9000000000000001 AS DOUBLE) THEN 'val'
        |       ELSE 'test' END AS split
        |FROM u ORDER BY doc_id""".stripMargin) { (s, dir) =>
      graft.ops.Splits.hashSplit(
          documents(s, dir).select("doc_id"), "doc_id", "#split",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .orderBy("doc_id")
    },

    // ---- WebDataset-style tar shard assembly (ustar, own-spec) ----
    // The on-disk shard format multimodal training corpora actually use:
    // each bucket's docs stream once through a mapPartitions that builds
    // the POSIX ustar bytes (sources/Tar.scala — fixed mode/uid/mtime,
    // so shard bytes are a pure function of the entry sequence) and then
    // RE-PARSES its own output; the emitted rows (name, payload byte
    // offset, size, payload md5) come from the PARSED bytes, so the
    // hash compare certifies writer ∘ parser against the byte-level
    // spec. The oracle replays offsets as a plain window cumsum —
    // off_i = 512 + Σ_{j<i}(512 header + payload padded to 512) — which
    // only matches if every header is exactly one block and every pad
    // is exact. Buckets are the parallel unit (Packing's pattern):
    // shard size is bounded by bucketing, never by corpus size.
    Q("q151_tar_shards",
      """WITH e AS (SELECT doc_id, doc_id % 4 AS bucket,
        |    printf('%012d', doc_id) || '.txt' AS name,
        |    octet_length(encode(text)) AS sz, md5(text) AS payload_md5
        |  FROM documents)
        |SELECT bucket, name,
        |  CAST(512 + COALESCE(SUM(512 + ((sz + 511) // 512) * 512)
        |      OVER (PARTITION BY bucket ORDER BY doc_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS byte_off,
        |  CAST(sz AS BIGINT) AS n_bytes,
        |  payload_md5
        |FROM e ORDER BY bucket, name""".stripMargin) { (s, dir) =>
      import s.implicits._
      val prepped = documents(s, dir).select(
        pmod(col("doc_id"), lit(4L)).as("bucket"),
        format_string("%012d.txt", col("doc_id")).as("name"),
        col("text"))
      prepped.repartition(4, col("bucket"))
        .sortWithinPartitions("bucket", "name")
        .as[(Long, String, String)]
        .mapPartitions { it =>
          // a hash partition may hold several buckets; entries arrive
          // bucket-contiguous and name-sorted, one shard per bucket
          it.toSeq.groupBy(_._1).toSeq.sortBy(_._1).iterator.flatMap {
            case (b, es) =>
              val tar = graft.sources.Tar.write(
                es.iterator.map { case (_, n, t) =>
                  (n, t.getBytes(java.nio.charset.StandardCharsets.UTF_8))
                })
              graft.sources.Tar.parse(tar).map { e =>
                val hex = java.security.MessageDigest.getInstance("MD5")
                  .digest(e.payload).map(x => f"$x%02x").mkString
                (b, e.name, e.offset, e.size, hex)
              }
          }
        }
        .toDF("bucket", "name", "byte_off", "n_bytes", "payload_md5")
        .orderBy("bucket", "name")
    },

    // ---- reciprocal-rank fusion of lexical + dense retrieval ----
    // The standard hybrid-retrieval combiner (Cormack, Clarke &
    // Büttcher SIGIR 2009): rrf(d) = Σ_lists 1/(60 + rank_list(d))
    // over the BM25 top-50 (q119's ranker) and the exact-cosine top-50
    // for a pinned query embedding (q41's ranker, vec_id 0 — doc_id ≡
    // vec_id in the testdata). Only RANKS enter the fusion, so the
    // cross-engine double story is two exact divisions and one
    // addition; both rankers are already certified individually and
    // the oracle replays the whole composition. The fusion itself is a
    // full outer join of two ≤50-row lists — bounded, broadcastable,
    // nothing corpus-sized past the rankers' own two-stage top-k.
    Q("q153_rrf_fusion", {
      val terms = Seq("hash", "join", "vector")
      s"""WITH ${bm25CoreSql(terms)},
        |lex AS (SELECT doc_id, CAST(rn AS BIGINT) AS lex_rank FROM (
        |    SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rn FROM sc)
        |  WHERE rn <= 50),
        |qv AS (SELECT embedding AS q FROM embeddings WHERE vec_id = 0),
        |cv AS (SELECT vec_id AS doc_id, embedding AS v FROM embeddings),
        |scored AS (SELECT doc_id,
        |    ${dotSql("q", "v")}
        |    / (SQRT(${dotSql("q", "q")}) * SQRT(${dotSql("v", "v")})) AS cosine
        |  FROM cv CROSS JOIN qv WHERE doc_id <> 0),
        |dense AS (SELECT doc_id, CAST(rn AS BIGINT) AS dense_rank FROM (
        |    SELECT doc_id, row_number() OVER (ORDER BY cosine DESC, doc_id) AS rn FROM scored)
        |  WHERE rn <= 50),
        |f AS (SELECT doc_id, l.lex_rank, de.dense_rank,
        |    COALESCE(CAST(1.0 AS DOUBLE) / (CAST(60.0 AS DOUBLE) + CAST(l.lex_rank AS DOUBLE)),
        |      CAST(0.0 AS DOUBLE))
        |    + COALESCE(CAST(1.0 AS DOUBLE) / (CAST(60.0 AS DOUBLE) + CAST(de.dense_rank AS DOUBLE)),
        |      CAST(0.0 AS DOUBLE)) AS rrf
        |  FROM lex l FULL JOIN dense de USING (doc_id))
        |SELECT doc_id, lex_rank, dense_rank, rrf, CAST(rn AS BIGINT) AS fused_rank
        |FROM (SELECT *, row_number() OVER (ORDER BY rrf DESC, doc_id) AS rn FROM f)
        |WHERE rn <= 20 ORDER BY fused_rank""".stripMargin
    }) { (s, dir) =>
      val lex = graft.text.Retrieval.bm25(documents(s, dir), "doc_id", "text",
          Seq("hash", "join", "vector"), topK = 50)
        .select(col("doc_id"), col("rank").as("lex_rank"))
      val emb = embeddings(s, dir)
      val dense = Similarity.cosineTopK(
          emb, emb.filter(col("vec_id") === 0), "vec_id", "embedding", 50)
        .select(col("neighbor_id").as("doc_id"), col("rnk").as("dense_rank"))
      val fused = lex.join(dense, Seq("doc_id"), "full")
        .select(col("doc_id"), col("lex_rank"), col("dense_rank"),
          (coalesce(lit(1.0) / (lit(60.0) + col("lex_rank").cast("double")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60.0) + col("dense_rank").cast("double")), lit(0.0)))
            .as("rrf"))
      // the fused frame is <= 100 rows (two top-50 lists) — the global
      // window is bounded by construction, not by the corpus
      fused.withColumn("fused_rank",
          row_number().over(org.apache.spark.sql.expressions.Window
            .orderBy(col("rrf").desc, col("doc_id"))).cast("long"))
        .filter(col("fused_rank") <= 20)
        .orderBy("fused_rank")
    },

    // ---- near-dup keep-best: fuzzy-dedup's ending (q102 ∘ q38) ----
    // q112 keeps the best doc per EXACT-duplicate group; this is the
    // same policy over NEAR-dup components — the step a real curation
    // pipeline runs after LSH grouping: within each transitive MinHash
    // component, keep the argmax-quality member (tie → smaller id).
    // Everything shuffled is (group_id, doc_id, quality); the oracle
    // replays the full grouping chain (minhashGroupsSql, q102's CTEs
    // verbatim) plus q38's quality expression and the same keeper
    // window — certifying the composition end-to-end.
    Q("q154_neardup_keep_best",
      s"""WITH RECURSIVE ${minhashGroupsSql()},
        |q AS (SELECT doc_id, $qualitySql AS quality
        |  FROM documents),
        |m AS (SELECT comp.group_id, comp.id AS doc_id, q.quality
        |  FROM comp JOIN q ON q.doc_id = comp.id)
        |SELECT group_id, doc_id, quality,
        |  first_value(doc_id) OVER (PARTITION BY group_id
        |    ORDER BY quality DESC, doc_id) AS keep_id,
        |  doc_id = first_value(doc_id) OVER (PARTITION BY group_id
        |    ORDER BY quality DESC, doc_id) AS kept
        |FROM m ORDER BY group_id, doc_id""".stripMargin) { (s, dir) =>
      val docs = documents(s, dir)
      val pairs = Dedup.minhashNearDups(docs, "doc_id", "text", MinHashFamily.Md5,
        nHashes = 16, bands = 4, shingleSize = 3)
        .filter(col("jaccard") >= 0.5)
        .select("id_a", "id_b")
      val groups = Dedup.dupGroups(pairs)
        .select(col("group_id"), col("id").as("doc_id"))
      // score ONLY group members: a semi-join prunes the quality scan
      // instead of scoring every doc. No broadcast hint — the dup-group
      // population is data-dependent (20–50% of docs on a raw web
      // crawl), so AQE must stay free to pick shuffle-vs-broadcast from
      // the runtime size instead of being forced into an OOM build side.
      val quality = docs
        .join(groups.select("doc_id"), Seq("doc_id"), "leftsemi")
        .select(col("doc_id"),
          TextOps.qualityScore(col("text"), stops).as("quality"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("group_id").orderBy(col("quality").desc, col("doc_id"))
      groups.join(quality, "doc_id")
        .withColumn("keep_id", first(col("doc_id")).over(w))
        .withColumn("kept", col("doc_id") === col("keep_id"))
        .select("group_id", "doc_id", "quality", "keep_id", "kept")
        .orderBy("group_id", "doc_id")
    },

    // ---- LLM-curation capstone: the full curation composition (§LLM) ----
    // One DAG through the training-data lifecycle the individual queries
    // certify stage-by-stage: quality gate (q38/q154's score at θ=0.45)
    // → exact dedup (q39's min-id-per-md5 keep rule) → near-dup
    // keep-best over LSH components of the SURVIVORS (q154's chain on
    // the filtered corpus) → deterministic hash split (q150) → per-split
    // corpus summary. The oracle replays every stage in one recursive
    // WITH over the shared fragments (qualitySql, minhashGroupsSql
    // parameterized onto the survivor CTE, the q150 split thresholds) —
    // a hash match certifies the stage CONTRACTS compose (gate feeds
    // dedup feeds grouping feeds split), the q148/q155/q156 capstone
    // pattern applied to this engine's own curation flow.
    //
    // Scale shape: gate + fingerprint are scan projections; exact dedup
    // shuffles 16-byte fps; the LSH chain runs on gated survivors only;
    // keep-best losers are an AQE-sized anti-join; the split is a
    // pure projection; the summary is one map-side-combined aggregate.
    Q("q158_curation_capstone",
      s"""WITH RECURSIVE
        |sq AS (SELECT doc_id, text, $qualitySql AS quality FROM documents),
        |gate AS (SELECT * FROM sq WHERE quality >= CAST(0.45 AS DOUBLE)),
        |fpd AS (SELECT *, row_number() OVER (PARTITION BY md5(text)
        |    ORDER BY doc_id) AS rn FROM gate),
        |corpus AS (SELECT doc_id, text, quality FROM fpd WHERE rn = 1),
        |${minhashGroupsSql("corpus")},
        |mem AS (SELECT c.group_id, c.id AS doc_id, corpus.quality
        |  FROM comp c JOIN corpus ON corpus.doc_id = c.id),
        |keepers AS (SELECT doc_id,
        |    first_value(doc_id) OVER (PARTITION BY group_id
        |      ORDER BY quality DESC, doc_id) AS keep_id
        |  FROM mem),
        |curated AS (SELECT co.* FROM corpus co
        |  WHERE co.doc_id NOT IN
        |    (SELECT doc_id FROM keepers WHERE doc_id <> keep_id)),
        |shv AS (SELECT * FROM ${OracleSql.md5Hash64Sql("doc_id",
             "md5(CAST(doc_id AS VARCHAR) || '#split')", "curated", "h")}),
        |u AS (SELECT doc_id,
        |    (CAST(h AS DOUBLE) + CAST(9223372036854775808.0 AS DOUBLE))
        |      / CAST(18446744073709551616.0 AS DOUBLE) AS u_unit
        |  FROM shv),
        |spl AS (SELECT cu.doc_id, cu.text,
        |    CASE WHEN u_unit < CAST(0.8 AS DOUBLE) THEN 'train'
        |         WHEN u_unit < CAST(0.9000000000000001 AS DOUBLE) THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM curated cu JOIN u USING (doc_id))
        |SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(len(string_split_regex(trim(lower(text)), '\\s+'))) AS BIGINT)
        |    AS sum_tokens,
        |  CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_fp,
        |  MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
        |FROM spl GROUP BY split ORDER BY split""".stripMargin) { (s, dir) =>
      curationCapstone(documents(s, dir))
    },

    // ---- CDC latest-wins corpus merge (ops/Merge) ----
    // A maintained corpus is the fold of a change log: re-crawled pages
    // arrive as higher-version updates, takedowns as delete tombstones,
    // re-publications as updates after a delete. The fixture builds a
    // 4-wave log from `documents` (v1 base insert for every doc, v2
    // re-extraction for doc_id%7, v3 tombstone for doc_id%13, v4
    // re-publication for doc_id%26 — so delete-then-reinsert is
    // exercised on real rows) and folds it with [[graft.ops.Merge
    // .latestWins]]: ONE map-side-combined max(struct) shuffle on
    // doc_id, no window, no sort of the change groups. The oracle
    // replays the identical log with a row_number keeper — two
    // different keep algorithms, same answer.
    Q("q159_corpus_merge",
      """WITH chg AS (
        |  SELECT doc_id, CAST(1 AS BIGINT) AS version, 'U' AS op,
        |    md5(text) AS fp, lang FROM documents
        |  UNION ALL
        |  SELECT doc_id, CAST(2 AS BIGINT), 'U', md5(text || '#rev2'), lang
        |  FROM documents WHERE doc_id % 7 = 0
        |  UNION ALL
        |  SELECT doc_id, CAST(3 AS BIGINT), 'D', NULL, NULL
        |  FROM documents WHERE doc_id % 13 = 0
        |  UNION ALL
        |  SELECT doc_id, CAST(4 AS BIGINT), 'U', md5(text || '#rev4'), lang
        |  FROM documents WHERE doc_id % 26 = 0),
        |w AS (SELECT *, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY version DESC) AS rn FROM chg)
        |SELECT doc_id, version, fp, lang FROM w
        |WHERE rn = 1 AND op <> 'D' ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val docs = documents(s, dir)
      def wave(ver: Long, op: String, fpCol: org.apache.spark.sql.Column,
               langCol: org.apache.spark.sql.Column) =
        docs.select(col("doc_id"), lit(ver).as("version"), lit(op).as("op"),
          fpCol.as("fp"), langCol.as("lang"))
      val chg = wave(1L, "U", md5(col("text")), col("lang"))
        .unionByName(wave(2L, "U", md5(concat(col("text"), lit("#rev2"))), col("lang"))
          .filter(col("doc_id") % 7 === 0))
        .unionByName(wave(3L, "D", lit(null).cast("string"), lit(null).cast("string"))
          .filter(col("doc_id") % 13 === 0))
        .unionByName(wave(4L, "U", md5(concat(col("text"), lit("#rev4"))), col("lang"))
          .filter(col("doc_id") % 26 === 0))
      graft.ops.Merge.latestWins(chg, "doc_id", "version", "op")
        .select("doc_id", "version", "fp", "lang")
        .orderBy("doc_id")
    },

    // ---- takedown propagation through near-dup components ----
    // Compliance removal for a training corpus: a takedown notice names
    // documents, but near-verbatim copies of them must go too. Seeds =
    // doc_id%97 (the notice list); removal = the seeds plus every member
    // of any transitive MinHash/LSH component (q102's machinery) that
    // contains a seed. The complement policy to q154's keep-best: there
    // the group elects a survivor, here a poisoned group drains.
    //
    // Scale shape: the LSH chain is q102's (fingerprints and band keys
    // shuffle, text never does); the notice list and the poisoned-group
    // set join as AQE-sized semi/anti joins — small in practice, but
    // data-dependent, so no forced broadcast hints.
    Q("q160_takedown_propagation",
      s"""WITH RECURSIVE ${minhashGroupsSql()},
        |seeds AS (SELECT doc_id FROM documents WHERE doc_id % 97 = 0),
        |hitg AS (SELECT DISTINCT c.group_id FROM comp c
        |  JOIN seeds sd ON sd.doc_id = c.id),
        |prop AS (SELECT c.id AS doc_id FROM comp c JOIN hitg USING (group_id)),
        |rem AS (
        |  SELECT doc_id, 'direct' AS reason FROM seeds
        |  UNION ALL
        |  SELECT doc_id, 'propagated' FROM prop
        |  WHERE doc_id NOT IN (SELECT doc_id FROM seeds))
        |SELECT doc_id, reason FROM rem ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val docs = documents(s, dir)
      val seeds = docs.filter(col("doc_id") % 97 === 0).select("doc_id")
      val pairs = Dedup.minhashNearDups(docs, "doc_id", "text", MinHashFamily.Md5,
        nHashes = 16, bands = 4, shingleSize = 3)
        .filter(col("jaccard") >= 0.5)
        .select("id_a", "id_b")
      val groups = Dedup.dupGroups(pairs)
        .select(col("group_id"), col("id").as("doc_id"))
      // no broadcast hints: the notice list and the poisoned-group set
      // are both data-dependent (seeds scale with the corpus, hit groups
      // with dup density) — AQE sizes the joins at runtime
      val hitGroups = groups.join(seeds, Seq("doc_id"), "leftsemi")
        .select("group_id").distinct()
      val propagated = groups.join(hitGroups, Seq("group_id"), "leftsemi")
        .select("doc_id")
      propagated.join(seeds, Seq("doc_id"), "left_anti")
        .withColumn("reason", lit("propagated"))
        .unionByName(seeds.withColumn("reason", lit("direct")))
        .orderBy("doc_id")
    },

    // ---- MinHash/LSH parameter planner (the S-curve) ----
    // Why 16 hashes × 4 bands? The banding collision probability is
    // p(s) = 1 − (1 − s^r)^b; this query materializes the full curve for
    // every (b, r) factorization of the engine's 16-hash budget over a
    // 19-point similarity grid — the planning table an operator reads to
    // pick the factorization whose threshold (≈ (1/b)^(1/r)) sits at the
    // dedup target before paying for a corpus-scale run. Tiny by
    // construction (95 rows), but the arithmetic is engine-grade: both
    // powers are LEFT-FOLD products (Spark `aggregate` over a sequence;
    // DuckDB a recursive CTE carrying the running product), so every
    // IEEE multiply associates identically and the curve hash-matches
    // bit-for-bit — the q145/q146 fold-replay pattern on closed-form
    // math instead of a time series.
    Q("q161_lsh_planner",
      """WITH RECURSIVE
        |cfg(b, r) AS (SELECT * FROM (VALUES
        |  (CAST(1 AS BIGINT), CAST(16 AS BIGINT)), (CAST(2 AS BIGINT), CAST(8 AS BIGINT)),
        |  (CAST(4 AS BIGINT), CAST(4 AS BIGINT)), (CAST(8 AS BIGINT), CAST(2 AS BIGINT)),
        |  (CAST(16 AS BIGINT), CAST(1 AS BIGINT))) v(b, r)),
        |g AS (SELECT CAST(i AS BIGINT) AS i,
        |    CAST(i AS DOUBLE) / CAST(20.0 AS DOUBLE) AS s
        |  FROM range(1, 20) t(i)),
        |pw(i, s, k, val) AS (
        |  SELECT i, s, CAST(0 AS BIGINT), CAST(1.0 AS DOUBLE) FROM g
        |  UNION ALL
        |  SELECT i, s, k + 1, val * s FROM pw WHERE k < 16),
        |qw(b, r, i, s, onemp, k, val) AS (
        |  SELECT c.b, c.r, p.i, p.s, CAST(1.0 AS DOUBLE) - p.val,
        |    CAST(0 AS BIGINT), CAST(1.0 AS DOUBLE)
        |  FROM cfg c JOIN pw p ON p.k = c.r
        |  UNION ALL
        |  SELECT b, r, i, s, onemp, k + 1, val * onemp FROM qw WHERE k < b)
        |SELECT b, r, i, s, CAST(1.0 AS DOUBLE) - val AS p FROM qw WHERE k = b
        |ORDER BY b, i""".stripMargin) { (s, dir) =>
      import s.implicits._
      val cfg = Seq((1L, 16L), (2L, 8L), (4L, 4L), (8L, 2L), (16L, 1L)).toDF("b", "r")
      cfg.crossJoin(s.range(1, 20).select(col("id").as("i")))
        .withColumn("s", col("i").cast("double") / lit(20.0))
        .withColumn("__pand",
          aggregate(sequence(lit(1L), col("r")), lit(1.0d), (acc, _) => acc * col("s")))
        .withColumn("__pnone",
          aggregate(sequence(lit(1L), col("b")), lit(1.0d),
            (acc, _) => acc * (lit(1.0d) - col("__pand"))))
        .select(col("b"), col("r"), col("i"), col("s"),
          (lit(1.0d) - col("__pnone")).as("p"))
        .orderBy("b", "i")
    },

    // ---- temperature-based multilingual sampling quotas ----
    // The multilingual mixing policy (Conneau & Lample 2019 §3.1 /
    // mT5): sample language g with weight n_g^α / Σ n_g^α so low-
    // resource languages are upsampled relative to their corpus share.
    // α is pinned to 1/2 because x^0.5 IS IEEE sqrt — correctly rounded
    // in every conforming engine — whereas a transcendental pow(n, α)
    // could differ in the last ulp cross-engine (the BM25/DSIR log
    // deviation, avoided outright here). The per-group sqrt is snapped
    // to the 1e-6 grid and summed as exact DECIMAL (the Exact.gsum
    // protocol: order-invariant, so the denominator is identical under
    // any partitioning); weight and quota are then one division and one
    // floor — fixed associations. Feeds `Mixing.interleave` (q118) as
    // the weight vector. ONE map-side-combined groupBy on lang; the
    // denominator is a broadcast 1-row aggregate.
    Q("q162_temperature_mix",
      """WITH c AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
        |  FROM documents GROUP BY lang),
        |sq AS (SELECT lang, n_docs,
        |    CAST(ROUND(sqrt(CAST(n_docs AS DOUBLE)) * CAST(1000000.0 AS DOUBLE), 0)
        |      AS DECIMAL(38,0)) AS sqb FROM c),
        |d AS (SELECT CAST(SUM(sqb) AS DOUBLE) AS denom FROM sq)
        |SELECT lang, n_docs, CAST(sqb AS DOUBLE) / denom AS w,
        |  CAST(FLOOR((CAST(sqb AS DOUBLE) / denom) * CAST(100000.0 AS DOUBLE))
        |    AS BIGINT) AS quota
        |FROM sq CROSS JOIN d ORDER BY lang""".stripMargin) { (s, dir) =>
      val counts = documents(s, dir).groupBy("lang")
        .agg(count(lit(1)).as("n_docs"))
      val sq = counts.withColumn("sqb",
        round(sqrt(col("n_docs").cast("double")) * lit(1000000.0d), 0)
          .cast("decimal(38,0)"))
      val denom = sq.agg(sum(col("sqb")).cast("double").as("denom"))
      sq.crossJoin(broadcast(denom))
        .withColumn("w", col("sqb").cast("double") / col("denom"))
        .withColumn("quota",
          floor(col("w") * lit(100000.0d)).cast("long"))
        .select("lang", "n_docs", "w", "quota")
        .orderBy("lang")
    },

    // ---- deterministic token masking (MLM corruption) ----
    // BERT/T5-style preprocessing: mask ~15% of token positions. The
    // mask decision is md5Hash64(doc_id#mask#pos) mapped to [0,1) (the
    // q150 split family), NOT an RNG — so the corrupted corpus is a pure
    // function of the clean corpus (reproducible epochs, resumable jobs,
    // and the mask pattern survives repartitioning). The whole query is
    // a SCAN PROJECTION: tokenize, mask, count, and re-join happen in
    // one `transform` HOF per row — zero shuffles, zero explodes; at
    // 100 TB the corrupted text is produced at read bandwidth. The
    // oracle must explode (SQL has no indexed-lambda fold) and regroup
    // with an ordered string_agg — two algorithms, same rows.
    Q("q163_deterministic_masking",
      s"""WITH tk AS (SELECT doc_id,
        |    string_split_regex(trim(text), '\\s+') AS toks FROM documents),
        |ex AS (SELECT doc_id, CAST(e['pos'] AS BIGINT) AS pos,
        |    e['tok'] AS tok, CAST(len(toks) AS BIGINT) AS n
        |  FROM (SELECT doc_id, toks,
        |      unnest(list_transform(range(len(toks)),
        |        j -> {'pos': j, 'tok': toks[j+1]})) AS e FROM tk)),
        |hv AS (SELECT * FROM ${md5Hash64Sql("doc_id, pos, tok, n",
             "md5(CAST(doc_id AS VARCHAR) || '#mask#' || CAST(pos AS VARCHAR))",
             "ex", "h")}),
        |m AS (SELECT doc_id, pos, tok, n,
        |    CASE WHEN (CAST(h AS DOUBLE) + CAST(9223372036854775808.0 AS DOUBLE))
        |        / CAST(18446744073709551616.0 AS DOUBLE) < CAST(0.15 AS DOUBLE)
        |      THEN 1 ELSE 0 END AS f
        |  FROM hv)
        |SELECT doc_id, MAX(n) AS n_tokens, CAST(SUM(f) AS BIGINT) AS n_masked,
        |  string_agg(CASE WHEN f = 1 THEN '<mask>' ELSE tok END, ' ' ORDER BY pos)
        |    AS masked_text
        |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.Column
      val toks = split(trim(col("text")), "\\s+")
      def u(i: Column): Column =
        (Dedup.md5Hash64(concat(col("doc_id").cast("string"), lit("#mask#"),
            i.cast("string"))).cast("double") +
          lit(9.223372036854776e18)) / lit(1.8446744073709552e19)
      documents(s, dir).select(
        col("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        size(filter(sequence(lit(0L), size(toks).cast("long") - 1),
          i => u(i) < lit(0.15d))).cast("long").as("n_masked"),
        array_join(transform(toks,
          (x, i) => when(u(i.cast("long")) < lit(0.15d), lit("<mask>")).otherwise(x)),
          " ").as("masked_text"))
        .orderBy("doc_id")
    },

    // ---- SemDeDup: semantic dedup via cluster-scoped cosine groups ----
    // Abbas et al. 2023 end to end (see [[Similarity.semDeDup]]):
    // deterministic md5-ordered centroids, exact-decimal argmin
    // assignment, WITHIN-cell cosine pairs at 0.3, transitive groups,
    // keep = farthest-from-centroid. The oracle replays every stage —
    // centroid pick, argmin (tie → smaller cell), pair verify, recursive
    // closure, keeper window — so the full policy hash-checks, not just
    // the pair stage (q87's scope). Bounded to vec_id < 600 to keep the
    // oracle's decimal-dot bill in q87 territory; the Spark path is the
    // production shape (id-only candidate shuffles, k-row broadcast).
    Q("q164_semantic_dedup", {
      def sq(a: String, b: String) =
        s"""(SELECT SUM(CAST((CAST($a[i+1] AS DOUBLE) - CAST($b[i+1] AS DOUBLE))
           | * (CAST($a[i+1] AS DOUBLE) - CAST($b[i+1] AS DOUBLE))
           | AS DECIMAL(38,18))) FROM range(64) t(i))""".stripMargin
          .replaceAll("\n\\s*\\|?", " ")
      s"""WITH RECURSIVE
        |e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 600),
        |hv AS (SELECT * FROM ${md5Hash64Sql("vec_id",
             "md5('graft-semdedup#' || CAST(vec_id AS VARCHAR))", "e", "h")}),
        |cent AS (SELECT CAST(rn - 1 AS INTEGER) AS cell, embedding AS cvec FROM (
        |    SELECT hv.vec_id, row_number() OVER (ORDER BY h, vec_id) AS rn FROM hv) p
        |  JOIN e ON e.vec_id = p.vec_id WHERE rn <= 8),
        |ad AS (SELECT e.vec_id, c.cell, ${sq("e.embedding", "c.cvec")} AS d
        |  FROM e CROSS JOIN cent c),
        |asn AS (SELECT vec_id, cell, d AS dcent FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
        |    FROM ad) WHERE rn = 1),
        |nrm AS (SELECT vec_id, SQRT(${dotSql("embedding", "embedding")}) AS nn FROM e),
        |dups AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM asn a JOIN asn b ON a.cell = b.cell AND a.vec_id < b.vec_id
        |  JOIN e ea ON ea.vec_id = a.vec_id JOIN e eb ON eb.vec_id = b.vec_id
        |  JOIN nrm na ON na.vec_id = a.vec_id JOIN nrm nb ON nb.vec_id = b.vec_id
        |  WHERE ${dotSql("ea.embedding", "eb.embedding")} / (na.nn * nb.nn)
        |    >= CAST(0.3 AS DOUBLE)),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM dups
        |  UNION ALL SELECT id_b, id_a FROM dups),
        |reach(id, lbl) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT g.dst, r.lbl FROM reach r JOIN edges g ON g.src = r.id),
        |comp AS (SELECT id, MIN(lbl) AS group_id FROM reach GROUP BY id)
        |SELECT m.id AS vec_id, CAST(a.cell AS BIGINT) AS cell, m.group_id,
        |  CAST(FLOOR(a.dcent * 1000000000 + 0.5) AS DOUBLE) / 1000000000.0 AS dcent,
        |  CASE WHEN row_number() OVER (PARTITION BY m.group_id
        |      ORDER BY a.dcent DESC, m.id) = 1 THEN 1 ELSE 0 END AS kept
        |FROM comp m JOIN asn a ON a.vec_id = m.id
        |ORDER BY m.group_id, vec_id""".stripMargin
    }) { (s, dir) =>
      Similarity.semDeDup(embeddings(s, dir).filter(col("vec_id") < 600),
        "vec_id", "embedding", nCells = 8, threshold = 0.3)
        .orderBy("group_id", "vec_id")
    },

    // ---- Unicode text cleanup (NFC + control strip + ws collapse) ----
    // [[TextOps.cleanText]] over documents plus planted pages (the q149
    // fixture-union pattern — synthetic docs are already clean ASCII, so
    // NFD sequences, control characters, and whitespace runs must be
    // planted to exercise each branch): NFC composition via the native
    // codegen'd [[graft.functions.NfcNormalize]] (Spark ships no
    // normalizer; a Scala UDF would break the scan projection's
    // whole-stage codegen), control deletion and whitespace collapse as
    // explicit code-point-range regexes (never `\s` — Java and RE2
    // disagree on U+000B). Pure scan projection; at 100 TB cleanup runs
    // at read bandwidth ahead of every fingerprint/tokenize consumer.
    Q("q165_text_cleanup",
      """WITH src AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT * FROM (VALUES
        |    (CAST(-1 AS BIGINT), E'café then Å nfd'),
        |    (CAST(-2 AS BIGINT), E'bell\x07and\x1funit\x0eseps'),
        |    (CAST(-3 AS BIGINT), E'  double   spaces\tand\ttabs\n\nnewlines\x0band vt  '),
        |    (CAST(-4 AS BIGINT), 'already clean ascii'),
        |    (CAST(-5 AS BIGINT), E'\x07\x1f'),
        |    (CAST(-6 AS BIGINT), E' \t ')) v(doc_id, text)),
        |c AS (SELECT doc_id, text,
        |    trim(regexp_replace(nfc_normalize(regexp_replace(text,
        |      '[\x00-\x08\x0E-\x1F\x7F]', '', 'g')),
        |      '[ \t\n\r\x0B\f]+', ' ', 'g')) AS cleaned
        |  FROM src)
        |SELECT doc_id, cleaned,
        |  CAST(length(text) AS BIGINT) AS n_before,
        |  CAST(length(cleaned) AS BIGINT) AS n_after,
        |  CASE WHEN cleaned <> text THEN 1 ELSE 0 END AS changed
        |FROM c ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val planted = Seq(
        (-1L, "café then Å nfd"),
        (-2L, "bellandunitseps"),
        (-3L, "  double   spaces\tand\ttabs\n\nnewlinesand vt  "),
        (-4L, "already clean ascii"),
        (-5L, ""),
        (-6L, " \t ")).toDF("doc_id", "text")
      val src = documents(s, dir).select("doc_id", "text").unionByName(planted)
      src.withColumn("cleaned", TextOps.cleanText(col("text")))
        .select(col("doc_id"), col("cleaned"),
          length(col("text")).cast("long").as("n_before"),
          length(col("cleaned")).cast("long").as("n_after"),
          when(col("cleaned") =!= col("text"), lit(1)).otherwise(lit(0))
            .as("changed"))
        .orderBy("doc_id")
    },

    // ---- deterministic epoch shuffle (training reading order) ----
    // [[Mixing.epochShuffle]] for epochs 0 and 1: each epoch's global
    // order is the rank of md5Hash64(epoch-salted id) — reproducible,
    // resumable, partition-layout-independent, and re-keyed per epoch so
    // epochs are independent permutations. Ranks ride the range-
    // partition+offset zipWithIndex scheme (never a global window); the
    // oracle replays the identical hash family through one window per
    // epoch — two algorithms, same total order.
    Q("q166_epoch_shuffle",
      s"""WITH h0 AS (SELECT * FROM ${md5Hash64Sql("doc_id",
           "md5('graft-epoch#0#' || CAST(doc_id AS VARCHAR))", "documents", "h")}),
        |h1 AS (SELECT * FROM ${md5Hash64Sql("doc_id",
           "md5('graft-epoch#1#' || CAST(doc_id AS VARCHAR))", "documents", "h")})
        |SELECT CAST(0 AS BIGINT) AS epoch,
        |  CAST(row_number() OVER (ORDER BY h, doc_id) - 1 AS BIGINT) AS pos,
        |  doc_id FROM h0
        |UNION ALL
        |SELECT CAST(1 AS BIGINT),
        |  CAST(row_number() OVER (ORDER BY h, doc_id) - 1 AS BIGINT),
        |  doc_id FROM h1
        |ORDER BY epoch, pos""".stripMargin) { (s, dir) =>
      val docs = documents(s, dir).select("doc_id")
      Seq(0L, 1L).map { e =>
        graft.text.Mixing.epochShuffle(docs, "doc_id", e)
          .select(lit(e).as("epoch"), col("pos"), col("doc_id"))
      }.reduce(_ unionByName _).orderBy("epoch", "pos")
    },

    // ---- SQ8 scalar quantization of the embedding store ----
    // [[graft.sim.Quantize]]: per-dimension min/max training (ONE
    // map-side-combined groupBy to 64 rows — order-invariant aggregates,
    // no decimal machinery needed), then encode + reconstruct + exact
    // squared reconstruction error in the scan projection (zero
    // shuffles; stats ship as broadcast array literals). Output projects
    // sortable scalars (the q47 convention — the checker cannot order
    // array cells): first/last code, code sum, snapped exact error.
    Q("q167_sq8_quantization",
      """WITH xs AS (SELECT vec_id, i,
        |    CAST(embedding[i+1] AS DOUBLE) AS xd
        |  FROM embeddings CROSS JOIN range(64) t(i)),
        |st AS (SELECT i, MIN(xd) AS mn, MAX(xd) AS mx FROM xs GROUP BY i),
        |cd AS (SELECT vec_id, i, xd, mn, mx,
        |    CASE WHEN mx = mn THEN 0
        |      ELSE CAST(round((xd - mn) / (mx - mn) * CAST(255.0 AS DOUBLE), 0)
        |        AS INTEGER) END AS c
        |  FROM xs JOIN st USING (i)),
        |er AS (SELECT vec_id,
        |    MAX(CASE WHEN i = 0 THEN c END) AS c_first,
        |    MAX(CASE WHEN i = 63 THEN c END) AS c_last,
        |    CAST(SUM(c) AS BIGINT) AS c_sum,
        |    SUM(CAST((xd - (mn + CAST(c AS DOUBLE) / CAST(255.0 AS DOUBLE) * (mx - mn)))
        |      * (xd - (mn + CAST(c AS DOUBLE) / CAST(255.0 AS DOUBLE) * (mx - mn)))
        |      AS DECIMAL(38,18))) AS errd
        |  FROM cd GROUP BY vec_id)
        |SELECT vec_id, c_first, c_last, c_sum,
        |  CAST(FLOOR(errd * 1000000000 + 0.5) AS DOUBLE) / 1000000000.0 AS err
        |FROM er ORDER BY vec_id""".stripMargin) { (s, dir) =>
      val emb = embeddings(s, dir)
      val stats = graft.sim.Quantize.sq8Train(emb, "embedding")
      graft.sim.Quantize.sq8(emb, "embedding", stats)
        .select(col("vec_id"),
          element_at(col("codes"), 1).as("c_first"),
          element_at(col("codes"), 64).as("c_last"),
          aggregate(col("codes"), lit(0L), (a, c) => a + c.cast("long"))
            .as("c_sum"),
          Similarity.snap9Floor(col("err")).as("err"))
        .orderBy("vec_id")
    },

    // ---- RAG chunking: overlapping token windows with stable ids ----
    // [[TextOps.chunkWindows]] at 64-token windows, 16-token overlap
    // (stride 48): the retrieval-index splitter. The whole derivation is
    // a scan-projection HOF + generator (explode) — zero shuffles; chunk
    // identity (doc_id, chunk_idx) is a pure function of the text, so
    // incremental re-indexing of a grown corpus never renumbers chunks.
    // The oracle replays the identical window arithmetic through
    // DuckDB's list slicing.
    Q("q168_rag_chunking",
      """WITH tk AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |  FROM documents),
        |sz AS (SELECT doc_id, t, len(t) AS n FROM tk),
        |ct AS (SELECT doc_id, t, n,
        |    CASE WHEN n <= 64 THEN CAST(1 AS BIGINT)
        |      ELSE CAST(FLOOR(CAST(n - 64 + 47 AS DOUBLE) / CAST(48.0 AS DOUBLE))
        |        AS BIGINT) + 1 END AS nch
        |  FROM sz),
        |ex AS (SELECT doc_id, t, n, CAST(unnest(range(nch)) AS BIGINT) AS k FROM ct)
        |SELECT doc_id, k AS chunk_idx,
        |  array_to_string(t[CAST(k*48+1 AS BIGINT) : CAST(k*48+64 AS BIGINT)], ' ')
        |    AS chunk,
        |  CAST(least(64, n - k*48) AS BIGINT) AS n_chunk_tokens
        |FROM ex ORDER BY doc_id, chunk_idx""".stripMargin) { (s, dir) =>
      documents(s, dir)
        .select(col("doc_id"),
          explode(TextOps.chunkWindows(col("text"), 64, 16)).as("c"))
        .select(col("doc_id"), col("c.idx").as("chunk_idx"),
          col("c.chunk").as("chunk"),
          col("c.n_tokens").as("n_chunk_tokens"))
        .orderBy("doc_id", "chunk_idx")
    },

    // ---- concat-and-cut example layout (GPT pretraining packing) ----
    // [[Packing.concatOffsets]]: the corpus as ONE virtual token stream
    // in epoch-0 hash order (docs separated by an EOD token), cut into
    // fixed 128-token examples — documents straddle example boundaries,
    // nothing wasted but the ragged tail. Output is the doc→example
    // index map a data loader needs: exclusive global token offset plus
    // first/last/count of the full examples each doc touches. Offsets
    // ride the prefix-sum generalization of the zipWithIndex scheme
    // (Splits.withGlobalPrefixSumCols — subtotal offsets, never a
    // single-partition running-sum window); the oracle replays them as
    // exactly that window — two algorithms, same layout.
    Q("q169_concat_cut_layout",
      s"""WITH hv AS (SELECT * FROM ${md5Hash64Sql("doc_id",
           "md5('graft-epoch#0#' || CAST(doc_id AS VARCHAR))", "documents", "h")}),
        |c AS (SELECT d.doc_id, h,
        |    CAST(len(string_split_regex(trim(lower(d.text)), '\\s+')) + 1 AS BIGINT)
        |      AS cost
        |  FROM documents d JOIN hv USING (doc_id)),
        |o AS (SELECT doc_id, cost,
        |    CAST(COALESCE(SUM(cost) OVER (ORDER BY h, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS start_off
        |  FROM c),
        |t AS (SELECT CAST(CAST(SUM(cost) AS BIGINT) // 128 AS BIGINT) AS nex FROM c)
        |SELECT doc_id, cost, start_off,
        |  CAST(start_off + cost AS BIGINT) AS end_off,
        |  CAST(FLOOR(CAST(start_off AS DOUBLE) / 128.0) AS BIGINT) AS first_example,
        |  CAST(FLOOR(CAST(start_off + cost - 1 AS DOUBLE) / 128.0) AS BIGINT)
        |    AS last_example,
        |  GREATEST(CAST(0 AS BIGINT),
        |    LEAST(CAST(FLOOR(CAST(start_off + cost - 1 AS DOUBLE) / 128.0) AS BIGINT),
        |          nex - 1)
        |    - CAST(FLOOR(CAST(start_off AS DOUBLE) / 128.0) AS BIGINT) + 1)
        |    AS n_full_examples
        |FROM o CROSS JOIN t ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val docs = documents(s, dir).select(col("doc_id"),
        (TextOps.tokenCount(col("text")) + 1).as("cost"))
      val (off, total) = Packing.concatOffsets(docs, "doc_id", "cost", epoch = 0L)
      val nEx = total / 128
      off.withColumn("end_off", col("start_off") + col("cost"))
        .withColumn("first_example",
          floor(col("start_off").cast("double") / lit(128.0)).cast("long"))
        .withColumn("last_example",
          floor((col("end_off") - 1).cast("double") / lit(128.0)).cast("long"))
        .withColumn("n_full_examples",
          greatest(lit(0L),
            least(col("last_example"), lit(nEx - 1)) - col("first_example") + 1))
        .select("doc_id", "cost", "start_off", "end_off",
          "first_example", "last_example", "n_full_examples")
        .orderBy("doc_id")
    },

    // ---- LSH empirical recall audit (planner's measured complement) ----
    // q161 predicts the banding S-curve; this measures it on the actual
    // corpus: exact-Jaccard pairs at 0.5 (q77's all-pairs baseline) vs
    // the banded MinHash pipeline's verified pairs (q80's DAG, 16
    // hashes × 4 bands) — the audit a deployment runs on a sample
    // before trusting LSH parameters at corpus scale. The verify stage
    // culls every false positive, so LSH pairs ⊆ exact pairs and recall
    // is one exact rational division. One row: n_exact, n_lsh,
    // n_missed, recall.
    Q("q170_lsh_recall_audit",
      s"""WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t FROM documents),
        |shl AS (
        |  SELECT doc_id, CASE WHEN len(t) >= 3 THEN
        |      list_distinct(list_transform(range(1, len(t)-1), i -> array_to_string(t[i:i+2], ' ')))
        |    ELSE [array_to_string(t, ' ')] END AS shs
        |  FROM toks WHERE t IS NOT NULL),
        |sh AS (SELECT DISTINCT doc_id, unnest(shs) AS s FROM shl),
        |sizes AS (SELECT doc_id, COUNT(*) AS nsh FROM sh GROUP BY 1),
        |commonx AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |ex AS (SELECT id_a, id_b FROM commonx
        |  JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
        |  WHERE CAST(n_common AS DOUBLE) / (sa.nsh + sb.nsh - n_common) >= 0.5),
        |hv AS (SELECT * FROM ${md5Hash64Sql("doc_id", "md5(s)", "sh", "h")}),
        |cs AS (SELECT * FROM ${md5Hash64Sql("i", "md5('graft-minhash#' || i)", "range(16) t(i)", "c")}),
        |sig AS (SELECT doc_id, i, MIN(xor(h, c)) AS minhash
        |  FROM hv CROSS JOIN cs GROUP BY 1, 2),
        |bnd AS (SELECT doc_id, CAST(FLOOR(i / 4) AS BIGINT) AS band,
        |    array_to_string(list(CAST(minhash AS VARCHAR) ORDER BY i), ',') AS key
        |  FROM sig GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM bnd a JOIN bnd b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
        |ls AS (SELECT c.id_a, c.id_b FROM cand c
        |  JOIN ex e ON e.id_a = c.id_a AND e.id_b = c.id_b)
        |SELECT CAST((SELECT COUNT(*) FROM ex) AS BIGINT) AS n_exact,
        |  CAST((SELECT COUNT(*) FROM ls) AS BIGINT) AS n_lsh,
        |  CAST((SELECT COUNT(*) FROM ex) - (SELECT COUNT(*) FROM ls) AS BIGINT)
        |    AS n_missed,
        |  CAST((SELECT COUNT(*) FROM ls) AS DOUBLE)
        |    / (SELECT COUNT(*) FROM ex) AS recall""".stripMargin) { (s, dir) =>
      val docs = documents(s, dir)
      val exact = graft.ops.Pin.pin(
        Dedup.jaccardPairs(docs, "doc_id", "text", shingleSize = 3,
          threshold = 0.5).select("id_a", "id_b"))
      val lsh = Dedup.minhashNearDups(docs, "doc_id", "text", MinHashFamily.Md5,
        nHashes = 16, bands = 4, shingleSize = 3)
        .filter(col("jaccard") >= 0.5)
        .select("id_a", "id_b")
      exact.withColumn("ex", lit(1))
        .join(lsh.withColumn("ls", lit(1)), Seq("id_a", "id_b"), "full_outer")
        .agg(count(col("ex")).as("n_exact"),
          count(col("ls")).as("n_lsh"),
          count(when(col("ex").isNotNull && col("ls").isNull, 1)).as("n_missed"))
        .withColumn("recall", col("n_lsh").cast("double") / col("n_exact"))
    },

    // ---- shard-balance audit (HRW routing load skew) ----
    // The check a deployment runs before committing to a shard count:
    // route every doc through q138's rendezvous assignment (8 shards),
    // aggregate per-shard doc and token load, and report each shard's
    // load_ratio = tokens × nShards / total (1.0 = perfectly even).
    // One map-side-combined groupBy to nShards rows + a broadcast 1-row
    // total — the audit costs one scan regardless of corpus size.
    Q("q171_shard_balance",
      s"""WITH w AS (SELECT doc_id,
        |    CAST(len(string_split_regex(trim(lower(text)), '\\s+')) AS BIGINT)
        |      AS n_tokens FROM documents),
        |hv AS (SELECT * FROM ${md5Hash64Sql("doc_id, n_tokens, r",
             "md5(CAST(doc_id AS VARCHAR) || '#shard' || CAST(r AS VARCHAR))",
             "(SELECT doc_id, n_tokens, i AS r FROM w, range(8) t(i))", "h")}),
        |a AS (SELECT doc_id, n_tokens, CAST(arg_max(r, h) AS BIGINT) AS shard
        |  FROM hv GROUP BY doc_id, n_tokens),
        |g AS (SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(n_tokens) AS BIGINT) AS n_tokens FROM a GROUP BY shard),
        |t AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS tot FROM g)
        |SELECT shard, n_docs, n_tokens,
        |  CAST(n_tokens * 8 AS DOUBLE) / CAST(tot AS DOUBLE) AS load_ratio
        |FROM g CROSS JOIN t ORDER BY shard""".stripMargin) { (s, dir) =>
      val w = documents(s, dir).select(col("doc_id"),
        TextOps.tokenCount(col("text")).as("n_tokens"),
        graft.ops.Shard.rendezvous(col("doc_id"), 8).as("shard"))
      val g = w.groupBy("shard")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
      val t = g.agg(sum(col("n_tokens")).as("tot"))
      g.crossJoin(broadcast(t))
        .withColumn("load_ratio",
          (col("n_tokens") * 8).cast("double") / col("tot").cast("double"))
        .select("shard", "n_docs", "n_tokens", "load_ratio")
        .orderBy("shard")
    },

    // ---- tokenizer fertility per language ----
    // The multilingual-tokenizer health metric (fertility = subword
    // tokens per word; chars per token alongside): a vocabulary trained
    // mostly on one language over-fragments the others, and this table
    // is how that is detected before training. Rides the q116/q147 BPE
    // machinery (merges learned once on the distinct-word frame, counts
    // via the broadcast vocab join) aggregated per `lang`; both ratios
    // are single double divisions of exact integer sums, zero-guarded.
    Q("q172_tokenizer_fertility",
      s"""WITH ${OracleSql.bpePerDocSql(6)},
        |chr AS (SELECT doc_id, CAST(SUM(length(word)) AS BIGINT) AS n_chars
        |  FROM occf GROUP BY 1),
        |l AS (SELECT d.lang, d.doc_id,
        |    COALESCE(per.n_words, 0) AS w, COALESCE(per.n_bpe_tokens, 0) AS b,
        |    COALESCE(chr.n_chars, 0) AS c
        |  FROM documents d LEFT JOIN per USING (doc_id)
        |  LEFT JOIN chr USING (doc_id))
        |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(w) AS BIGINT) AS n_words,
        |  CAST(SUM(b) AS BIGINT) AS n_bpe_tokens,
        |  CAST(SUM(c) AS BIGINT) AS n_chars,
        |  CASE WHEN SUM(w) = 0 THEN CAST(0.0 AS DOUBLE)
        |    ELSE CAST(SUM(b) AS DOUBLE) / CAST(SUM(w) AS DOUBLE) END AS fertility,
        |  CASE WHEN SUM(b) = 0 THEN CAST(0.0 AS DOUBLE)
        |    ELSE CAST(SUM(c) AS DOUBLE) / CAST(SUM(b) AS DOUBLE) END
        |    AS chars_per_token
        |FROM l GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
      val docs = documents(s, dir)
      val vocab = graft.ops.Pin.pin(graft.text.Bpe.wordCounts(docs, "text"))
      val merges = graft.text.Bpe.learnMerges(vocab, "word", "cnt", 6)
      val seg = graft.text.Bpe.segment(vocab.select(col("word")), "word", merges)
        .select(col("word"), size(col("tokens")).cast("long").as("n_toks"))
      val occ = docs.select(col("doc_id"),
          explode(split(lower(col("text")), "\\s+")).as("word"))
        .filter(col("word").rlike("^[a-z]+$"))
      val per = occ.join(seg, "word")
        .groupBy("doc_id").agg(count(lit(1)).as("w"),
          sum(col("n_toks")).as("b"),
          sum(length(col("word")).cast("long")).as("c"))
      docs.select(col("doc_id"), col("lang")).join(per, Seq("doc_id"), "left")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(coalesce(col("w"), lit(0L))).as("n_words"),
          sum(coalesce(col("b"), lit(0L))).as("n_bpe_tokens"),
          sum(coalesce(col("c"), lit(0L))).as("n_chars"))
        .withColumn("fertility",
          when(col("n_words") === 0, lit(0.0)).otherwise(
            col("n_bpe_tokens").cast("double") / col("n_words").cast("double")))
        .withColumn("chars_per_token",
          when(col("n_bpe_tokens") === 0, lit(0.0)).otherwise(
            col("n_chars").cast("double") / col("n_bpe_tokens").cast("double")))
        .orderBy("lang")
    },

    // ---- dedup savings accounting per source ----
    // "How many tokens does exact dedup actually save, and from where"
    // — the per-source report that justifies a dedup pass before anyone
    // pays for it at corpus scale. q39's canonical fingerprint + min-id
    // keeper; kept tokens attribute to the KEEPER's source (a dup group
    // may span sources). Fingerprints shuffle (16 bytes), text never
    // does; the keeper window partitions on fp (dup groups are bounded).
    Q("q173_dedup_savings",
      """WITH c AS (SELECT doc_id, source,
        |    md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp,
        |    CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS BIGINT)
        |      AS n_tokens
        |  FROM documents),
        |k AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        |  FROM c)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
        |  CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept_docs,
        |  CAST(SUM(CASE WHEN rn = 1 THEN n_tokens ELSE 0 END) AS BIGINT)
        |    AS n_kept_tokens,
        |  CAST(1.0 AS DOUBLE)
        |    - CAST(SUM(CASE WHEN rn = 1 THEN n_tokens ELSE 0 END) AS DOUBLE)
        |      / CAST(SUM(n_tokens) AS DOUBLE) AS dup_token_ratio
        |FROM k GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
      val c = documents(s, dir).select(col("doc_id"), col("source"),
        TextOps.fingerprint(col("text")).as("fp"),
        TextOps.tokenCount(col("text")).as("n_tokens"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("fp").orderBy("doc_id")
      c.withColumn("rn", row_number().over(w))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens"),
          sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_kept_docs"),
          sum(when(col("rn") === 1, col("n_tokens")).otherwise(0L))
            .as("n_kept_tokens"))
        .withColumn("dup_token_ratio",
          lit(1.0) - col("n_kept_tokens").cast("double")
            / col("n_tokens").cast("double"))
        .orderBy("source")
    },

    // ---- cross-document boilerplate line removal ----
    // The C4/RefinedWeb line-level rule the doc-level filters (q111
    // per-doc line rules, q121 n-gram spans) don't cover: a LINE that
    // recurs across ≥3 distinct documents of the same source is site
    // furniture (cookie banners, nav bars) and is stripped from every
    // document. Synthetic docs are single-line, so multi-line pages
    // with planted furniture are unioned in (the q149/q165 pattern);
    // the sub-threshold pair proves the boundary.
    //
    // Scale shape: lines explode to (doc, source, pos, 16-byte lfp);
    // the recurrence count is a map-side-combined groupBy on
    // (source, lfp); the rewrite regroups kept lines per doc — the one
    // unavoidable text shuffle of any rewrite pass.
    Q("q174_boilerplate_lines",
      """WITH src AS (
        |  SELECT doc_id, source, text FROM documents
        |  UNION ALL
        |  SELECT * FROM (VALUES
        |    (CAST(-1 AS BIGINT), 'planted', E'accept cookies to continue\nstory one body\nsite nav home about'),
        |    (CAST(-2 AS BIGINT), 'planted', E'accept cookies to continue\nstory two body\nsite nav home about'),
        |    (CAST(-3 AS BIGINT), 'planted', E'accept cookies to continue\nstory three body'),
        |    (CAST(-4 AS BIGINT), 'planted', E'story four body\nsite nav home about'),
        |    (CAST(-5 AS BIGINT), 'planted', E'rare pair line\nstory five body'),
        |    (CAST(-6 AS BIGINT), 'planted', E'rare pair line\nstory six body'))
        |    v(doc_id, source, text)),
        |ln AS (SELECT doc_id, source, CAST(e['pos'] AS BIGINT) AS pos,
        |    e['line'] AS line
        |  FROM (SELECT doc_id, source,
        |      unnest(list_transform(range(len(l)),
        |        j -> {'pos': j, 'line': l[j+1]})) AS e
        |    FROM (SELECT doc_id, source, string_split(text, chr(10)) AS l
        |      FROM src))),
        |fp AS (SELECT *, md5(trim(line)) AS lfp FROM ln),
        |cnt AS (SELECT source, lfp, COUNT(DISTINCT doc_id) AS nd
        |  FROM fp GROUP BY 1, 2),
        |fl AS (SELECT fp.*, cnt.nd >= 3 AS boiler
        |  FROM fp JOIN cnt USING (source, lfp))
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lines,
        |  CAST(SUM(CASE WHEN boiler THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
        |  md5(COALESCE(string_agg(CASE WHEN NOT boiler THEN line END,
        |    chr(10) ORDER BY pos), '')) AS cleaned_fp
        |FROM fl GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val planted = Seq(
        (-1L, "planted", "accept cookies to continue\nstory one body\nsite nav home about"),
        (-2L, "planted", "accept cookies to continue\nstory two body\nsite nav home about"),
        (-3L, "planted", "accept cookies to continue\nstory three body"),
        (-4L, "planted", "story four body\nsite nav home about"),
        (-5L, "planted", "rare pair line\nstory five body"),
        (-6L, "planted", "rare pair line\nstory six body"))
        .toDF("doc_id", "source", "text")
      val src = documents(s, dir).select("doc_id", "source", "text")
        .unionByName(planted)
      val lines = src.select(col("doc_id"), col("source"),
        posexplode(split(col("text"), "\n")).as(Seq("pos", "line")))
        .withColumn("lfp", md5(trim(col("line"))))
      val cnt = lines.groupBy("source", "lfp")
        .agg(countDistinct(col("doc_id")).as("nd"))
      lines.join(cnt, Seq("source", "lfp"))
        .withColumn("boiler", col("nd") >= 3)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_lines"),
          sum(when(col("boiler"), 1L).otherwise(0L)).as("n_boiler"),
          md5(array_join(
            transform(
              array_sort(collect_list(
                when(!col("boiler"), struct(col("pos"), col("line"))))),
              x => x.getField("line")),
            "\n")).as("cleaned_fp"))
        .orderBy("doc_id")
    },

    // ---- term-association table (lift over co-occurrence) ----
    // The classic association-mining readout, transcendental-free: for
    // the top-200-df vocabulary, lift(a,b) = n_ab·N / (df_a·df_b) — the
    // exact-rational core of PMI (PMI = log2(lift); the log is
    // monotone, so rankings are PMI rankings, and the published-form
    // deviation is the same one BM25/DSIR document). Top-3 co-terms per
    // term by lift.
    //
    // Scale shape: vocabulary is a bounded two-stage top-k broadcast;
    // pairs generate WITHIN a doc from the per-doc sorted term set (the
    // q131 co-occurrence explode — one exchange, quadratic only on the
    // bounded in-doc vocab intersection); counts are map-side-combined;
    // the rank window partitions per term.
    Q("q175_term_lift",
      """WITH tk AS (SELECT doc_id,
        |    unnest(list_distinct(string_split_regex(trim(lower(text)), '\s+'))) AS term
        |  FROM documents),
        |tkf AS (SELECT doc_id, term FROM tk WHERE regexp_matches(term, '^[a-z]+$')),
        |dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tkf GROUP BY 1),
        |voc AS (SELECT term, df FROM (SELECT *,
        |    ROW_NUMBER() OVER (ORDER BY df DESC, term) AS rn FROM dfreq)
        |  WHERE rn <= 200),
        |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM documents),
        |tv AS (SELECT doc_id, term FROM tkf JOIN voc USING (term)),
        |pr AS (SELECT a.term AS src, b.term AS dst
        |  FROM tv a JOIN tv b ON a.doc_id = b.doc_id AND a.term < b.term),
        |pc AS (SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS n_ab
        |  FROM pr GROUP BY 1, 2 HAVING COUNT(*) >= 3),
        |lf AS (SELECT pc.src, pc.dst, pc.n_ab,
        |    CAST(pc.n_ab * nn.nd AS DOUBLE)
        |      / CAST(va.df * vb.df AS DOUBLE) AS lift
        |  FROM pc CROSS JOIN nn
        |  JOIN voc va ON va.term = pc.src JOIN voc vb ON vb.term = pc.dst),
        |sym AS (SELECT src AS term, dst AS co_term, n_ab, lift FROM lf
        |  UNION ALL SELECT dst, src, n_ab, lift FROM lf)
        |SELECT term, CAST(rnk AS BIGINT) AS rnk, co_term, n_ab, lift FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY term
        |      ORDER BY lift DESC, co_term) AS rnk FROM sym)
        |WHERE rnk <= 3 ORDER BY term, rnk""".stripMargin) { (s, dir) =>
      val docs = documents(s, dir)
      val toks = docs.select(col("doc_id"),
          explode(array_distinct(TextOps.tokens(col("text")))).as("term"))
        .filter(col("term").rlike("^[a-z]+$"))
      val dfreq = toks.groupBy("term").agg(count(lit(1)).as("df"))
      val vocab = broadcast(
        dfreq.orderBy(col("df").desc, col("term")).limit(200))
      val tv = toks.join(vocab.select("term"), "term")
      val nDocs = docs.count()
      val pc = graft.graph.Graph.coOccurrencePairs(
          tv.select("doc_id", "term"), "doc_id", "term",
          distinctPairs = false)
        .groupBy("src", "dst").agg(count(lit(1)).as("n_ab"))
        .filter(col("n_ab") >= 3)
      val lf = pc
        .join(broadcast(vocab.select(col("term").as("src"), col("df").as("df_a"))), "src")
        .join(broadcast(vocab.select(col("term").as("dst"), col("df").as("df_b"))), "dst")
        .withColumn("lift", (col("n_ab") * nDocs).cast("double")
          / (col("df_a") * col("df_b")).cast("double"))
      val sym = lf.select(col("src").as("term"), col("dst").as("co_term"),
          col("n_ab"), col("lift"))
        .unionByName(lf.select(col("dst").as("term"), col("src").as("co_term"),
          col("n_ab"), col("lift")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("term").orderBy(col("lift").desc, col("co_term"))
      sym.withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 3)
        .select("term", "rnk", "co_term", "n_ab", "lift")
        .orderBy("term", "rnk")
    },

    // ---- corpus release diff (version-over-version accounting) ----
    // The release-engineering readout for a maintained corpus: given
    // snapshot v1 and snapshot v2, classify every doc id as added /
    // removed / changed / unchanged by canonical fingerprint and
    // report per-source counts — what a data team reviews before
    // blessing a crawl refresh (q126 classifies an incoming batch
    // against a corpus; this diffs two full versions, including
    // content CHANGES, which batch classification cannot see). The two
    // versions derive deterministically from `documents`: v2 drops
    // doc_id%5=0, rewrites %7 (rev2 text), and adds fresh ids. One
    // full-outer join on doc_id shuffling (id, fp, source) — 16-byte
    // fingerprints, text never moves.
    Q("q178_corpus_diff",
      """WITH v1 AS (SELECT doc_id, source,
        |    md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp
        |  FROM documents WHERE doc_id % 5 <> 0),
        |v2 AS (SELECT doc_id, source,
        |    md5(regexp_replace(trim(lower(
        |      CASE WHEN doc_id % 7 = 0 THEN text || ' rev2' ELSE text END)),
        |      '\s+', ' ', 'g')) AS fp
        |  FROM documents WHERE doc_id % 3 <> 1
        |  UNION ALL
        |  SELECT doc_id + 1000000, source, md5(CAST(doc_id AS VARCHAR) || '#new')
        |  FROM documents WHERE doc_id % 11 = 0),
        |d AS (SELECT COALESCE(v1.doc_id, v2.doc_id) AS doc_id,
        |    COALESCE(v2.source, v1.source) AS source,
        |    CASE WHEN v1.doc_id IS NULL THEN 'added'
        |         WHEN v2.doc_id IS NULL THEN 'removed'
        |         WHEN v1.fp <> v2.fp THEN 'changed'
        |         ELSE 'unchanged' END AS status
        |  FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id)
        |SELECT source, status, CAST(COUNT(*) AS BIGINT) AS n_docs
        |FROM d GROUP BY 1, 2 ORDER BY source, status""".stripMargin) { (s, dir) =>
      val docs = documents(s, dir)
      val v1 = docs.filter(col("doc_id") % 5 =!= 0)
        .select(col("doc_id"), col("source"),
          TextOps.fingerprint(col("text")).as("fp"))
      val v2 = docs.filter(col("doc_id") % 3 =!= 1)
        .select(col("doc_id"), col("source"),
          TextOps.fingerprint(
            when(col("doc_id") % 7 === 0, concat(col("text"), lit(" rev2")))
              .otherwise(col("text"))).as("fp"))
        .unionByName(docs.filter(col("doc_id") % 11 === 0)
          .select((col("doc_id") + 1000000).as("doc_id"), col("source"),
            md5(concat(col("doc_id").cast("string"), lit("#new"))).as("fp")))
      v1.select(col("doc_id"), col("source").as("s1"), col("fp").as("fp1"))
        .join(v2.select(col("doc_id"), col("source").as("s2"),
          col("fp").as("fp2")), Seq("doc_id"), "full_outer")
        .select(
          coalesce(col("s2"), col("s1")).as("source"),
          when(col("fp1").isNull, lit("added"))
            .when(col("fp2").isNull, lit("removed"))
            .when(col("fp1") =!= col("fp2"), lit("changed"))
            .otherwise(lit("unchanged")).as("status"))
        .groupBy("source", "status")
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("source", "status")
    },

    // ---- quota-enforced temperature sample (q162 materialized) ----
    // q162 computes the α=0.5 per-language quotas; this DRAWS them: per
    // language, the quota_g docs with the smallest salted hash rank — a
    // deterministic, growth-stable sample manifest (adding docs only
    // appends to the hash order's tail candidates; re-runs are
    // byte-identical). The per-lang rank window is bounded by the
    // quota constant (Spark plans it as a WindowGroupLimit — only the
    // top `quota` rows per lang survive the rank), and the quota table
    // is a broadcast |langs|-row frame. Total draw here = 100 docs.
    Q("q179_quota_sample",
      s"""WITH c AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
        |  FROM documents GROUP BY lang),
        |sq AS (SELECT lang, n_docs,
        |    CAST(ROUND(sqrt(CAST(n_docs AS DOUBLE)) * CAST(1000000.0 AS DOUBLE), 0)
        |      AS DECIMAL(38,0)) AS sqb FROM c),
        |d AS (SELECT CAST(SUM(sqb) AS DOUBLE) AS denom FROM sq),
        |qt AS (SELECT lang,
        |    CAST(FLOOR((CAST(sqb AS DOUBLE) / denom) * CAST(100.0 AS DOUBLE))
        |      AS BIGINT) AS quota
        |  FROM sq CROSS JOIN d),
        |hv AS (SELECT * FROM ${md5Hash64Sql("doc_id, lang",
             "md5('graft-sample#' || CAST(doc_id AS VARCHAR))", "documents", "h")}),
        |r AS (SELECT lang, doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rnk
        |  FROM hv)
        |SELECT r.lang, CAST(r.rnk AS BIGINT) AS rnk, r.doc_id, qt.quota
        |FROM r JOIN qt USING (lang) WHERE r.rnk <= qt.quota
        |ORDER BY lang, rnk""".stripMargin) { (s, dir) =>
      val docs = documents(s, dir)
      val counts = docs.groupBy("lang").agg(count(lit(1)).as("n_docs"))
      val sq = counts.withColumn("sqb",
        round(sqrt(col("n_docs").cast("double")) * lit(1000000.0d), 0)
          .cast("decimal(38,0)"))
      val denom = sq.agg(sum(col("sqb")).cast("double").as("denom"))
      val quota = sq.crossJoin(broadcast(denom))
        .select(col("lang"),
          floor(col("sqb").cast("double") / col("denom") * lit(100.0d))
            .cast("long").as("quota"))
      val ranked = docs.select(col("lang"), col("doc_id"),
        Dedup.md5Hash64(concat(lit("graft-sample#"),
          col("doc_id").cast("string"))).as("__h"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("lang").orderBy(col("__h"), col("doc_id"))
      ranked.withColumn("rnk", row_number().over(w).cast("long"))
        .join(broadcast(quota), "lang")
        .filter(col("rnk") <= col("quota"))
        .select("lang", "rnk", "doc_id", "quota")
        .orderBy("lang", "rnk")
    },

    // ---- split-leakage audit (near-dups across the eval boundary) ----
    // The eval-integrity check q150's hash split makes possible but
    // does not itself perform: a near-duplicate PAIR straddling
    // train/test means the eval set leaks training content — the
    // within-corpus complement of decontamination (q107 checks against
    // an external eval set). Pairs come from the oracle-replayable
    // banded-MinHash pipeline (q80's DAG); each verified pair is
    // labeled same_split / cross_split by the q150 assignment, and the
    // summary reports the leak count by split-pair. The audit adds two
    // scan projections and one broadcast-able id join on top of the
    // dedup run a pipeline already pays for.
    Q("q180_split_leakage",
      s"""WITH RECURSIVE ${minhashGroupsSql()},
        |hv2 AS (SELECT * FROM ${md5Hash64Sql("doc_id",
             "md5(CAST(doc_id AS VARCHAR) || '#split')", "documents", "h")}),
        |sp AS (SELECT doc_id,
        |    CASE WHEN (CAST(h AS DOUBLE) + CAST(9223372036854775808.0 AS DOUBLE))
        |        / CAST(18446744073709551616.0 AS DOUBLE) < CAST(0.8 AS DOUBLE)
        |      THEN 'train'
        |      WHEN (CAST(h AS DOUBLE) + CAST(9223372036854775808.0 AS DOUBLE))
        |        / CAST(18446744073709551616.0 AS DOUBLE)
        |        < CAST(0.9000000000000001 AS DOUBLE) THEN 'val'
        |      ELSE 'test' END AS split
        |  FROM hv2),
        |lab AS (SELECT d.id_a, d.id_b, sa.split AS split_a, sb.split AS split_b
        |  FROM dups d JOIN sp sa ON sa.doc_id = d.id_a
        |  JOIN sp sb ON sb.doc_id = d.id_b)
        |SELECT LEAST(split_a, split_b) AS split_lo,
        |  GREATEST(split_a, split_b) AS split_hi,
        |  CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |  CAST(CASE WHEN split_a <> split_b THEN 1 ELSE 0 END AS BIGINT) AS leak
        |FROM lab GROUP BY 1, 2, 4 ORDER BY split_lo, split_hi""".stripMargin) {
      (s, dir) =>
      val docs = documents(s, dir)
      val pairs = Dedup.minhashNearDups(docs, "doc_id", "text", MinHashFamily.Md5,
        nHashes = 16, bands = 4, shingleSize = 3)
        .filter(col("jaccard") >= 0.5)
        .select("id_a", "id_b")
      val sp = graft.ops.Splits.hashSplit(docs.select("doc_id"), "doc_id",
        "#split", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select("doc_id", "split")
      pairs
        .join(sp.select(col("doc_id").as("id_a"), col("split").as("split_a")), "id_a")
        .join(sp.select(col("doc_id").as("id_b"), col("split").as("split_b")), "id_b")
        .select(least(col("split_a"), col("split_b")).as("split_lo"),
          greatest(col("split_a"), col("split_b")).as("split_hi"),
          when(col("split_a") =!= col("split_b"), 1L).otherwise(0L).as("leak"))
        .groupBy("split_lo", "split_hi", "leak")
        .agg(count(lit(1)).as("n_pairs"))
        .select("split_lo", "split_hi", "n_pairs", "leak")
        .orderBy("split_lo", "split_hi")
    },

    // ---- asymmetric containment join (subset near-dups) ----
    // [[Dedup.prefixContainmentPairs]]: a short doc swallowed by a
    // longer one has arbitrarily LOW jaccard but containment 1.0 — the
    // planted pair (-31 ⊂ -30) has jaccard 3/8 (invisible to every
    // symmetric query at 0.5) and containment 1.0. Round 20 (guide
    // §2.5/§3): the engine path is the ASYMMETRIC prefix filter
    // (small-side prefix × full ranked stream with the t·min overlap
    // bound) instead of the full shingle equi-join of
    // [[Dedup.jaccardPairs]] at threshold 0 — the hot-shingle m²/2 blow-up q128
    // already removed for jaccard. The oracle still replays the PLAIN
    // equi-join chain, so the hash compare proves the asymmetric
    // prefix loses no qualifying pair (the q128 cross-algorithm
    // pattern).
    Q("q181_containment_pairs",
      """WITH src AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT * FROM (VALUES
        |    (CAST(-30 AS BIGINT),
        |     'alpha beta gamma delta epsilon zeta eta theta iota kappa'),
        |    (CAST(-31 AS BIGINT), 'alpha beta gamma delta epsilon'))
        |    v(doc_id, text)),
        |toks AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t FROM src),
        |shl AS (
        |  SELECT doc_id, CASE WHEN len(t) >= 3 THEN
        |      list_distinct(list_transform(range(1, len(t)-1), i -> array_to_string(t[i:i+2], ' ')))
        |    ELSE [array_to_string(t, ' ')] END AS shs
        |  FROM toks WHERE t IS NOT NULL),
        |sh AS (SELECT DISTINCT doc_id, unnest(shs) AS s FROM shl),
        |sizes AS (SELECT doc_id, COUNT(*) AS nsh FROM sh GROUP BY 1),
        |common AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1,2)
        |SELECT id_a, id_b, CAST(n_common AS BIGINT) AS n_common,
        |  CAST(sa.nsh AS BIGINT) AS n_a, CAST(sb.nsh AS BIGINT) AS n_b,
        |  CAST(n_common AS DOUBLE) / LEAST(sa.nsh, sb.nsh) AS containment
        |FROM common JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
        |WHERE CAST(n_common AS DOUBLE) / LEAST(sa.nsh, sb.nsh) >= 0.8
        |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
      import s.implicits._
      val planted = Seq(
        (-30L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (-31L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
      Dedup.prefixContainmentPairs(
          documents(s, dir).select("doc_id", "text").unionByName(planted),
          "doc_id", "text", shingleSize = 3, threshold = 0.8)
        .orderBy("id_a", "id_b")
    },

    // ---- HTML→text extraction ([[TextOps.htmlToText]] + cleanup) ----
    // The crawl-processing front door: script/style elements drop WITH
    // their contents (tag-stripping alone would leak code into prose),
    // remaining tags become spaces (block boundaries must not glue
    // words), common entities decode with &amp; LAST (decoding it first
    // re-interprets pre-escaped text — the planted '&amp;lt;' must
    // surface as literal '&lt;'), then cleanText normalizes whitespace.
    // Pure scan projection; planted pages exercise every branch
    // (synthetic docs carry no markup), including a truncated page with
    // an UNCLOSED <script> (its JS body must drop, not leak — the
    // fallback-to-end-of-input pass) and a <scripty> generic tag that
    // the anchored name must NOT treat as script. Element regexes are
    // chained patterns, never one with a \1 backreference — RE2 has none.
    Q("q182_html_extract",
      """WITH src AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT * FROM (VALUES
        |    (CAST(-41 AS BIGINT), '<html><head><style>p{color:red}</style><script type="text/javascript">var x = 1 < 2;</script></head><body><p>Hello &amp; welcome</p><p>it&#39;s 5 &lt; 10 &amp;lt; still</p></body></html>'),
        |    (CAST(-42 AS BIGINT), 'plain text no markup'),
        |    (CAST(-43 AS BIGINT), '<div>a</div><div>b</div>&nbsp;&quot;q&quot;'),
        |    (CAST(-44 AS BIGINT), '<p>kept prose</p><script src="a.js">var leak = 1;'),
        |    (CAST(-45 AS BIGINT), '<scripty>generic tag text</scripty> tail'))
        |    v(doc_id, text)),
        |x AS (SELECT doc_id,
        |    replace(replace(replace(replace(replace(replace(
        |      regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
        |        '(?is)<script(?:\s[^>]*)?>.*?</script\s*>', ' ', 'g'),
        |        '(?is)<script(?:\s[^>]*)?>.*', ' ', 'g'),
        |        '(?is)<style(?:\s[^>]*)?>.*?</style\s*>', ' ', 'g'),
        |        '(?is)<style(?:\s[^>]*)?>.*', ' ', 'g'),
        |        '<[^>]*>', ' ', 'g'),
        |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', chr(39)),
        |      '&nbsp;', ' '), '&amp;', '&') AS plain
        |  FROM src),
        |c AS (SELECT doc_id,
        |    trim(regexp_replace(nfc_normalize(regexp_replace(plain,
        |      '[\x00-\x08\x0E-\x1F\x7F]', '', 'g')),
        |      '[ \t\n\r\x0B\f]+', ' ', 'g')) AS plain
        |  FROM x)
        |SELECT doc_id, plain, CAST(length(plain) AS BIGINT) AS n_chars
        |FROM c ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val planted = Seq(
        (-41L, "<html><head><style>p{color:red}</style><script type=\"text/javascript\">var x = 1 < 2;</script></head><body><p>Hello &amp; welcome</p><p>it&#39;s 5 &lt; 10 &amp;lt; still</p></body></html>"),
        (-42L, "plain text no markup"),
        (-43L, "<div>a</div><div>b</div>&nbsp;&quot;q&quot;"),
        (-44L, "<p>kept prose</p><script src=\"a.js\">var leak = 1;"),
        (-45L, "<scripty>generic tag text</scripty> tail"))
        .toDF("doc_id", "text")
      documents(s, dir).select("doc_id", "text").unionByName(planted)
        .select(col("doc_id"),
          TextOps.cleanText(TextOps.htmlToText(col("text"))).as("plain"))
        .select(col("doc_id"), col("plain"),
          length(col("plain")).cast("long").as("n_chars"))
        .orderBy("doc_id")
    },

    // ---- sampled LSH recall audit (the corpus-scale form of q170) ----
    // q170 runs the exact all-pairs Jaccard chain over the WHOLE corpus
    // — fine as an audit at sf0.1, quadratic death at 100 TB. The form a
    // deployment actually runs is this one: a salted-md5 p-sample of the
    // corpus (the q150 hashSplit unit-interval hash, so the sample is
    // stable under reruns/growth and replayable by any md5-capable
    // engine), the exact chain and the banded-MinHash chain over the
    // SAMPLE only, recall as one exact rational. Sampling pairs by
    // sampling docs keeps both endpoints in-sample with probability p²
    // — the standard unbiased near-dup-rate estimator (each retained
    // pair is an i.i.d. Bernoulli(p²) draw of a corpus pair) — and the
    // quadratic side drops by p² while the LSH side stays the
    // production plan shape.
    Q("q183_lsh_recall_sampled",
      s"""WITH smp AS (SELECT * FROM ${md5Hash64Sql("doc_id, text",
             "md5(CAST(doc_id AS VARCHAR) || '#lshaudit')", "documents", "sh64")}),
        |sdocs AS (SELECT doc_id, text FROM smp
        |  WHERE (CAST(sh64 AS DOUBLE) + 9.223372036854776e18)
        |    / 1.8446744073709552e19 < 0.3),
        |toks AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t FROM sdocs),
        |shl AS (
        |  SELECT doc_id, CASE WHEN len(t) >= 3 THEN
        |      list_distinct(list_transform(range(1, len(t)-1), i -> array_to_string(t[i:i+2], ' ')))
        |    ELSE [array_to_string(t, ' ')] END AS shs
        |  FROM toks WHERE t IS NOT NULL),
        |sh AS (SELECT DISTINCT doc_id, unnest(shs) AS s FROM shl),
        |sizes AS (SELECT doc_id, COUNT(*) AS nsh FROM sh GROUP BY 1),
        |commonx AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |ex AS (SELECT id_a, id_b FROM commonx
        |  JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
        |  WHERE CAST(n_common AS DOUBLE) / (sa.nsh + sb.nsh - n_common) >= 0.5),
        |hv AS (SELECT * FROM ${md5Hash64Sql("doc_id", "md5(s)", "sh", "h")}),
        |cs AS (SELECT * FROM ${md5Hash64Sql("i", "md5('graft-minhash#' || i)", "range(16) t(i)", "c")}),
        |sig AS (SELECT doc_id, i, MIN(xor(h, c)) AS minhash
        |  FROM hv CROSS JOIN cs GROUP BY 1, 2),
        |bnd AS (SELECT doc_id, CAST(FLOOR(i / 4) AS BIGINT) AS band,
        |    array_to_string(list(CAST(minhash AS VARCHAR) ORDER BY i), ',') AS key
        |  FROM sig GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM bnd a JOIN bnd b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
        |ls AS (SELECT c.id_a, c.id_b FROM cand c
        |  JOIN ex e ON e.id_a = c.id_a AND e.id_b = c.id_b)
        |SELECT CAST((SELECT COUNT(*) FROM sdocs) AS BIGINT) AS n_sampled,
        |  CAST((SELECT COUNT(*) FROM ex) AS BIGINT) AS n_exact,
        |  CAST((SELECT COUNT(*) FROM ls) AS BIGINT) AS n_lsh,
        |  CAST((SELECT COUNT(*) FROM ex) - (SELECT COUNT(*) FROM ls) AS BIGINT)
        |    AS n_missed,
        |  CAST((SELECT COUNT(*) FROM ls) AS DOUBLE)
        |    / (SELECT COUNT(*) FROM ex) AS recall""".stripMargin) { (s, dir) =>
      val u = (Dedup.md5Hash64(concat(col("doc_id").cast("string"),
          lit("#lshaudit"))).cast("double") + lit(9.223372036854776e18)) /
        lit(1.8446744073709552e19)
      val sdocs = documents(s, dir).filter(u < 0.3)
      // round 20 (guide §3): the exact arm runs the prefix-filtered
      // AllPairs chain — q128's oracle certifies prefixJaccardPairs ≡
      // jaccardPairs, so the recall arithmetic is unchanged while the
      // sampled ground-truth side stops paying the hot-shingle
      // equi-join blow-up the p² sample only attenuates
      val exact = graft.ops.Pin.pin(
        Dedup.prefixJaccardPairs(sdocs, "doc_id", "text", shingleSize = 3,
          threshold = 0.5).select("id_a", "id_b"))
      val lsh = Dedup.minhashNearDups(sdocs, "doc_id", "text", MinHashFamily.Md5,
        nHashes = 16, bands = 4, shingleSize = 3)
        .filter(col("jaccard") >= 0.5)
        .select("id_a", "id_b")
      val nSampled = sdocs.agg(count(lit(1)).as("n_sampled"))
      exact.withColumn("ex", lit(1))
        .join(lsh.withColumn("ls", lit(1)), Seq("id_a", "id_b"), "full_outer")
        .agg(count(col("ex")).as("n_exact"),
          count(col("ls")).as("n_lsh"),
          count(when(col("ex").isNotNull && col("ls").isNull, 1)).as("n_missed"))
        .crossJoin(broadcast(nSampled))
        .withColumn("recall", col("n_lsh").cast("double") / col("n_exact"))
        .select("n_sampled", "n_exact", "n_lsh", "n_missed", "recall")
    },

    // ---- sampled exact Jaccard pairs (the corpus-scale form of q77) ----
    // q77 runs the exact shingle-equi-join all-pairs chain over the
    // WHOLE corpus — the oracle-grade baseline, quadratic death at
    // 100 TB. The deployable estimator is this one: the q183 salted-md5
    // Bernoulli doc-sample (p = 0.3, its own salt so the two audits
    // draw independent samples), then the identical exact chain over
    // the sample only. Sampling docs samples pairs at p² — each
    // surviving pair is an i.i.d. Bernoulli(p²) draw of a corpus pair,
    // so pair-population statistics (near-dup rate, jaccard histogram)
    // scale by 1/p² unbiasedly — while the quadratic shingle join
    // shrinks by p² and every row that DOES survive carries the exact
    // q77 columns, bit-identical to what the full run would emit for
    // that pair. The full-corpus form stays registered as the audit
    // baseline; this is the shape a 100 TB run schedules.
    Q("q194_jaccard_pairs_sampled",
      s"""WITH smp AS (SELECT * FROM ${md5Hash64Sql("doc_id, text",
             "md5(CAST(doc_id AS VARCHAR) || '#jacsample')", "documents", "sh64")}),
        |sdocs AS (SELECT doc_id, text FROM smp
        |  WHERE (CAST(sh64 AS DOUBLE) + 9.223372036854776e18)
        |    / 1.8446744073709552e19 < 0.3),
        |toks AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t FROM sdocs),
        |shl AS (
        |  SELECT doc_id, CASE WHEN len(t) >= 3 THEN
        |      list_distinct(list_transform(range(1, len(t)-1), i -> array_to_string(t[i:i+2], ' ')))
        |    ELSE [array_to_string(t, ' ')] END AS shs
        |  FROM toks WHERE t IS NOT NULL),
        |sh AS (SELECT DISTINCT doc_id, unnest(shs) AS s FROM shl),
        |sizes AS (SELECT doc_id, COUNT(*) AS nsh FROM sh GROUP BY 1),
        |common AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1,2)
        |SELECT id_a, id_b, CAST(n_common AS BIGINT) AS n_common,
        |  CAST(sa.nsh AS BIGINT) AS n_a, CAST(sb.nsh AS BIGINT) AS n_b,
        |  CAST(n_common AS DOUBLE) / (sa.nsh + sb.nsh - n_common) AS jaccard
        |FROM common JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
        |WHERE CAST(n_common AS DOUBLE) / (sa.nsh + sb.nsh - n_common) >= 0.5
        |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
      val u = (Dedup.md5Hash64(concat(col("doc_id").cast("string"),
          lit("#jacsample"))).cast("double") + lit(9.223372036854776e18)) /
        lit(1.8446744073709552e19)
      // round 20 (guide §3): prefix-filtered exact chain over the
      // sample — identical output (q128's cross-algorithm certificate),
      // no hot-shingle equi-join in the deployable estimator
      Dedup.prefixJaccardPairs(documents(s, dir).filter(u < 0.3), "doc_id",
        "text", shingleSize = 3, threshold = 0.5)
        .orderBy("id_a", "id_b")
    },

    // ---- bigram-LM fluency scoring (the CCNet perplexity stage) ----
    // Wenzek et al. 2020's curation signal: score every doc against a
    // language model trained on a reference partition. The engine form
    // ([[graft.text.LangModel]]): add-one bigram LM trained on the
    // salted-hash 80% split, scored corpus-wide; the perplexity
    // surrogate is the exact-grid MEAN CONDITIONAL PROBABILITY (the
    // BM25 rational-idf trade — ln is transcendental, so a hash-compare
    // contract can't use it; the ordering signal survives). The oracle
    // replays the whole protocol — split hash, tokenization, bigram
    // slices, train counts, add-one probabilities as single
    // correctly-rounded double divisions, 1e12-grid decimal sums —
    // so the hash match certifies train/score separation, smoothing
    // arithmetic, and the unseen-bigram accounting end to end.
    Q("q195_bigram_fluency",
      s"""WITH ${fluencyPerDocSql(2)}
        |SELECT d.doc_id,
        |  CASE WHEN uu.u < CAST(0.8 AS DOUBLE) THEN 'train' ELSE 'held' END AS split,
        |  CAST(COALESCE(per.n, 0) AS BIGINT) AS n_bigrams,
        |  CAST(COALESCE(per.nu, 0) AS BIGINT) AS n_unseen,
        |  CASE WHEN COALESCE(per.n, 0) > 0
        |    THEN CAST(per.ps AS DOUBLE) / 1000000000000.0 / CAST(per.n AS DOUBLE)
        |    ELSE CAST(0.0 AS DOUBLE) END AS mean_cond_p
        |FROM documents d JOIN uu USING (doc_id) LEFT JOIN per USING (doc_id)
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      graft.text.LangModel.bigramFluency(documents(s, dir), "doc_id", "text",
          trainFrac = 0.8, salt = "#lm")
        .orderBy("doc_id")
    },

    // ---- CCNet fluency bucketing: head / middle / tail thirds ----
    // The second half of the CCNet stage: partition the corpus into
    // three equal-mass buckets by LM score (head = most fluent). CCNet
    // buckets by perplexity terciles; the engine form ranks by the
    // exact-grid score and cuts at n/3 and 2n/3 — equal-sized thirds by
    // construction, ties broken by doc_id, and RANK-based rather than
    // value-interpolated, so the cut is exact integer arithmetic with
    // no quantile-interpolation parity risk. The global rank comes from
    // [[graft.ops.Splits.withGlobalRowNumberCols]] (range partition +
    // broadcast offsets — never a single-partition window; the oracle
    // replays it as a plain ROW_NUMBER, two different rank algorithms,
    // same answer). Scale shape: the fluency chain is q195's; the rank
    // adds one range shuffle of (doc_id, 3 longs); the report is one
    // map-side-combined 3-row aggregate.
    Q("q196_fluency_buckets",
      s"""WITH ${fluencyPerDocSql(2)},
        |sc AS (SELECT d.doc_id,
        |    CAST(COALESCE(per.n, 0) AS BIGINT) AS nb,
        |    CAST(COALESCE(per.nu, 0) AS BIGINT) AS nu,
        |    CASE WHEN COALESCE(per.n, 0) > 0
        |      THEN CAST(ROUND(CAST(per.ps AS DOUBLE) / 1000000000000.0
        |        / CAST(per.n AS DOUBLE) * 1000000000000.0, 0) AS BIGINT)
        |      ELSE CAST(0 AS BIGINT) END AS gm
        |  FROM documents d LEFT JOIN per USING (doc_id)),
        |rk AS (SELECT *, ROW_NUMBER() OVER (ORDER BY gm, doc_id) AS pos
        |  FROM sc),
        |nt AS (SELECT COUNT(*) AS n_total FROM sc)
        |SELECT CASE WHEN pos <= n_total // 3 THEN 'tail'
        |    WHEN pos <= (n_total * 2) // 3 THEN 'middle'
        |    ELSE 'head' END AS bucket,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(nb) AS BIGINT) AS sum_bigrams,
        |  CAST(SUM(nu) AS BIGINT) AS sum_unseen,
        |  MIN(gm) AS min_gm, MAX(gm) AS max_gm
        |FROM rk CROSS JOIN nt GROUP BY 1 ORDER BY bucket""".stripMargin) { (s, dir) =>
      val uu = (Dedup.md5Hash64(concat(col("doc_id").cast("string"),
          lit("#lm"))).cast("double") + lit(9.223372036854776e18)) /
        lit(1.8446744073709552e19)
      val scores = graft.text.LangModel.bigramFluencyWithTrain(
        documents(s, dir), "doc_id", "text", isTrain = uu < 0.8)
      val g = scores.select(col("doc_id"), col("n_bigrams"), col("n_unseen"),
        round(col("mean_cond_p") * lit(1.0e12), 0).cast("long").as("gm"))
      val (ranked, nTotal) = graft.ops.Splits.withGlobalRowNumberCols(
        g, Seq(col("gm"), col("doc_id")), "__pos")
      ranked
        .withColumn("bucket",
          when(col("__pos") <= lit(nTotal / 3), "tail")
            .when(col("__pos") <= lit(nTotal * 2 / 3), "middle")
            .otherwise("head"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_bigrams")).as("sum_bigrams"),
          sum(col("n_unseen")).as("sum_unseen"),
          min(col("gm")).as("min_gm"), max(col("gm")).as("max_gm"))
        .orderBy("bucket")
    },

    // ---- trigram-LM fluency (the n-gram order knob, VERDICT r12 #5) ----
    // CCNet's real model is a 5-gram KenLM; [[graft.text.LangModel]] is
    // parameterized on the order, with contexts as (n−1)-gram xxhash64
    // identities. This registers the n = 3 point of that knob on the
    // same protocol as q195 (same salted 80% split, add-one smoothing
    // over two-token contexts, exact-grid mean conditional probability),
    // so the hash match certifies the GENERALIZED context hashing —
    // every shuffle/join key is still 8 bytes at any n; only the train
    // count table's cardinality grows with the order (distinct n-grams,
    // vocabulary-sized at fixed corpus entropy, never corpus-sized).
    Q("q197_trigram_fluency",
      s"""WITH ${fluencyPerDocSql(3)}
        |SELECT d.doc_id,
        |  CASE WHEN uu.u < CAST(0.8 AS DOUBLE) THEN 'train' ELSE 'held' END AS split,
        |  CAST(COALESCE(per.n, 0) AS BIGINT) AS n_ngrams,
        |  CAST(COALESCE(per.nu, 0) AS BIGINT) AS n_unseen,
        |  CASE WHEN COALESCE(per.n, 0) > 0
        |    THEN CAST(per.ps AS DOUBLE) / 1000000000000.0 / CAST(per.n AS DOUBLE)
        |    ELSE CAST(0.0 AS DOUBLE) END AS mean_cond_p
        |FROM documents d JOIN uu USING (doc_id) LEFT JOIN per USING (doc_id)
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      graft.text.LangModel.ngramFluency(documents(s, dir), "doc_id", "text",
          n = 3, trainFrac = 0.8, salt = "#lm")
        .orderBy("doc_id")
    },

    // ---- 5-gram-LM fluency (the published CCNet operating point) ----
    // q197 proved the order knob at n = 3; CCNet's actual model is a
    // 5-gram KenLM (Wenzek et al. 2020), so the claimed generality is
    // oracle-checked AT the published order here (VERDICT r13 item 5).
    // The engine-side hash-collision surface grows with the order —
    // distinct (n−1)-token context strings multiply while identities
    // stay 64-bit xxhash64 — and the oracle's TRUE-string replay below
    // is exactly the detector for that surface: a context or gram
    // collision shifts a count and fails the hash compare. (At
    // production scale a collision perturbs one score — it never
    // fabricates output rows, the dupSpans failure mode that got
    // 128-bit lanes.)
    Q("q201_fivegram_fluency",
      s"""WITH ${fluencyPerDocSql(5)}
        |SELECT d.doc_id,
        |  CASE WHEN uu.u < CAST(0.8 AS DOUBLE) THEN 'train' ELSE 'held' END AS split,
        |  CAST(COALESCE(per.n, 0) AS BIGINT) AS n_ngrams,
        |  CAST(COALESCE(per.nu, 0) AS BIGINT) AS n_unseen,
        |  CASE WHEN COALESCE(per.n, 0) > 0
        |    THEN CAST(per.ps AS DOUBLE) / 1000000000000.0 / CAST(per.n AS DOUBLE)
        |    ELSE CAST(0.0 AS DOUBLE) END AS mean_cond_p
        |FROM documents d JOIN uu USING (doc_id) LEFT JOIN per USING (doc_id)
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      graft.text.LangModel.ngramFluency(documents(s, dir), "doc_id", "text",
          n = 5, trainFrac = 0.8, salt = "#lm")
        .orderBy("doc_id")
    },

    // ---- ANN over a BUCKETED corpus table (the 100 TB layout, driven) ----
    // The deployment shape the round-14 decade measured (IVF 10M shuffle
    // 5,270 → 13.2 MB once the corpus is bucketed by id) exercised
    // through the driver contract: the corpus is written via
    // [[graft.sources.Csv.bucketedSink]] (the one-time indexing pass —
    // catalog table, bucketed + in-bucket-sorted by vec_id), read back
    // from the catalog, and queried with the SAME full-coverage sign-LSH
    // DAG as q85 — so the oracle is q85's brute-force SQL and the hash
    // match certifies the whole layout path end to end: bucketed write,
    // catalog read, candidate generation inheriting the bucket
    // partitioning, and the exchange-free re-rank attach (PlanSpec holds
    // the no-vector-exchange plan proof; this query holds the row/hash
    // proof at every future round). VERDICT r14 item 2.
    Q("q202_lsh_bucketed_corpus",
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
        |  c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
        |  scored AS (
        |    SELECT query_id, neighbor_id,
        |      ${dotSql("qv", "cv")}
        |      / (SQRT(${dotSql("qv", "qv")}) * SQRT(${dotSql("cv", "cv")})) AS cosine
        |    FROM q CROSS JOIN c WHERE neighbor_id <> query_id)
        |SELECT query_id, CAST(rnk AS BIGINT) AS rnk, neighbor_id,
        |  CAST(CAST(cosine AS DECIMAL(18,9)) AS DOUBLE) AS cosine FROM (
        |  SELECT query_id, neighbor_id, cosine,
        |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
        |  FROM scored)
        |WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin) { (s, dir) =>
      val emb = embeddings(s, dir).select(col("vec_id"), col("embedding"))
      graft.sources.Csv.bucketedSink(emb, "graft_q202_ann_corpus",
        Seq("vec_id"), buckets = 8)
      val corpus = s.table("graft_q202_ann_corpus")
      Similarity.signLshTopK(corpus, corpus.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, dim = 64, bits = 0, tables = 2,
        maxBucketSize = Int.MaxValue)
        .withColumn("cosine",
          col("cosine").cast(org.apache.spark.sql.types.DecimalType(18, 9)).cast("double"))
        .orderBy("query_id", "rnk")
    },

    // ---- ANN against a PERSISTED sign-LSH index (round-15 layout) ----
    // q202 drives the bucketed-corpus half of the 100 TB ANN layout;
    // this drives the other half measured in round 15: the
    // (neighbor_id, t, b) index persisted once via bucketedSink keyed
    // by its (t, b) join key (per-batch sign-LSH shuffle 468.7 →
    // 21.3 MB at 10M vectors, SCALE.md round 15), with the query batch
    // running signLshTopKFromIndex against the persisted index + the
    // bucketed corpus. Full coverage (bits = 0, uncapped) makes the
    // result equal exact search, so q85's brute-force SQL hash-checks
    // the whole persisted-index path: index write, catalog read,
    // bucket equi-join, exchange-free re-rank. PlanSpec holds the
    // no-exchange-above-the-index-scan machine proof.
    Q("q203_lsh_persisted_index",
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
        |  c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
        |  scored AS (
        |    SELECT query_id, neighbor_id,
        |      ${dotSql("qv", "cv")}
        |      / (SQRT(${dotSql("qv", "qv")}) * SQRT(${dotSql("cv", "cv")})) AS cosine
        |    FROM q CROSS JOIN c WHERE neighbor_id <> query_id)
        |SELECT query_id, CAST(rnk AS BIGINT) AS rnk, neighbor_id,
        |  CAST(CAST(cosine AS DECIMAL(18,9)) AS DOUBLE) AS cosine FROM (
        |  SELECT query_id, neighbor_id, cosine,
        |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
        |  FROM scored)
        |WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin) { (s, dir) =>
      val emb = embeddings(s, dir).select(col("vec_id"), col("embedding"))
      graft.sources.Csv.bucketedSink(
        Similarity.signLshIndex(emb, "vec_id", "embedding", dim = 64,
          bits = 0, tables = 2, maxBucketSize = Int.MaxValue),
        "graft_q203_lsh_index", Seq("t", "b"), buckets = 8)
      graft.sources.Csv.bucketedSink(emb, "graft_q203_ann_corpus",
        Seq("vec_id"), buckets = 8)
      Similarity.signLshTopKFromIndex(
        s.table("graft_q203_lsh_index"), s.table("graft_q203_ann_corpus"),
        s.table("graft_q203_ann_corpus").filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, dim = 64, bits = 0, tables = 2)
        .withColumn("cosine",
          col("cosine").cast(org.apache.spark.sql.types.DecimalType(18, 9)).cast("double"))
        .orderBy("query_id", "rnk")
    },

    // ---- ANN against a PERSISTED IVF index (round-15 layout) ----
    // The IVF sibling of q203: the (neighbor_id, cell) assignment
    // table bucketed by NEIGHBOR_ID (the layout lesson SCALE.md round
    // 15 records: id bucketing hands the candidate frame its attach
    // partitioning — 0.53 MB/batch at 10M vectors vs 556 MB bucketed
    // by the probe key) plus the bounded centroid frame, the corpus
    // bucketed by id, and the query batch running ivfTopKFromIndex
    // over the three persisted frames at FULL probe width — so the
    // result equals exact search and q78's brute-force SQL
    // hash-checks the whole persisted-IVF path every round.
    Q("q204_ivf_persisted_index",
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
        |  c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
        |  scored AS (
        |    SELECT query_id, neighbor_id,
        |      ${dotSql("qv", "cv")}
        |      / (SQRT(${dotSql("qv", "qv")}) * SQRT(${dotSql("cv", "cv")})) AS cosine
        |    FROM q CROSS JOIN c WHERE neighbor_id <> query_id)
        |SELECT query_id, CAST(rnk AS BIGINT) AS rnk, neighbor_id,
        |  CAST(CAST(cosine AS DECIMAL(18,9)) AS DOUBLE) AS cosine FROM (
        |  SELECT query_id, neighbor_id, cosine,
        |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
        |  FROM scored)
        |WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin) { (s, dir) =>
      val emb = embeddings(s, dir).select(col("vec_id"), col("embedding"))
      val idx = Similarity.ivfIndex(emb, "vec_id", "embedding", nCells = 16)
      graft.sources.Csv.bucketedSink(idx.cells, "graft_q204_ivf_cells",
        Seq("neighbor_id"), buckets = 8)
      graft.sources.Csv.bucketedSink(idx.centroids,
        "graft_q204_ivf_centroids", Seq("cell"), buckets = 1)
      graft.sources.Csv.bucketedSink(emb, "graft_q204_ann_corpus",
        Seq("vec_id"), buckets = 8)
      Similarity.ivfTopKFromIndex(
        s.table("graft_q204_ivf_cells"), s.table("graft_q204_ivf_centroids"),
        s.table("graft_q204_ann_corpus"),
        s.table("graft_q204_ann_corpus").filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, nProbe = 16)
        .withColumn("cosine",
          col("cosine").cast(org.apache.spark.sql.types.DecimalType(18, 9)).cast("double"))
        .orderBy("query_id", "rnk")
    },

    // ---- ANN against an APPENDED IVF index (round-17 delta path) ----
    // Corpora grow; rebuilding a 10M-row assignment table to add 1% is
    // the cost [[Similarity.ivfAppend]] exists to avoid (VERDICT r16
    // item 3). This query drives the maintenance path end to end: the
    // index is built on 80% of the corpus, persisted, and the
    // remaining 20% is delta-appended under the FROZEN persisted
    // quantizer (bucketedAppend — same id-bucketing keys, so the
    // exchange-free probe→attach layout survives). Full probe width
    // makes the result equal exact search over the WHOLE corpus, so
    // the brute-force SQL hash-checks that the appended table is a
    // complete, correctly-assigned corpus: a dropped or mis-bucketed
    // delta row would break the hash.
    Q("q205_ivf_appended_index",
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
        |  c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
        |  scored AS (
        |    SELECT query_id, neighbor_id,
        |      ${dotSql("qv", "cv")}
        |      / (SQRT(${dotSql("qv", "qv")}) * SQRT(${dotSql("cv", "cv")})) AS cosine
        |    FROM q CROSS JOIN c WHERE neighbor_id <> query_id)
        |SELECT query_id, CAST(rnk AS BIGINT) AS rnk, neighbor_id,
        |  CAST(CAST(cosine AS DECIMAL(18,9)) AS DOUBLE) AS cosine FROM (
        |  SELECT query_id, neighbor_id, cosine,
        |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
        |  FROM scored)
        |WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin) { (s, dir) =>
      val emb = embeddings(s, dir).select(col("vec_id"), col("embedding"))
      val base = emb.filter(col("vec_id") % 5 =!= 0)
      val delta = emb.filter(col("vec_id") % 5 === 0)
      val idx = Similarity.ivfIndex(base, "vec_id", "embedding", nCells = 16)
      graft.sources.Csv.bucketedSink(idx.cells, "graft_q205_ivf_cells",
        Seq("neighbor_id"), buckets = 8)
      graft.sources.Csv.bucketedSink(idx.centroids,
        "graft_q205_ivf_centroids", Seq("cell"), buckets = 1)
      graft.sources.Csv.bucketedSink(emb, "graft_q205_ann_corpus",
        Seq("vec_id"), buckets = 8)
      Similarity.ivfAppend("graft_q205_ivf_cells",
        s.table("graft_q205_ivf_centroids"), delta, "vec_id", "embedding",
        buckets = 8)
      Similarity.ivfTopKFromIndex(
        s.table("graft_q205_ivf_cells"), s.table("graft_q205_ivf_centroids"),
        s.table("graft_q205_ann_corpus"),
        s.table("graft_q205_ann_corpus").filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, nProbe = 16)
        .withColumn("cosine",
          col("cosine").cast(org.apache.spark.sql.types.DecimalType(18, 9)).cast("double"))
        .orderBy("query_id", "rnk")
    },

    // ---- ANN against an APPENDED sign-LSH index (the LSH sibling) ----
    // Same maintenance contract on the sign-LSH layout: the
    // (neighbor_id, t, b) index is built on 80% of the corpus and the
    // delta appended via [[Similarity.signLshAppend]] — hyperplanes are
    // seed-frozen so delta memberships are bit-identical to a rebuild's,
    // and the cap-aware fill path executes against the persisted
    // table's live bucket counts (the cap is finite but non-binding
    // here, keeping full coverage so exact-search SQL hash-checks the
    // appended index; the binding-cap semantics are IndexAppendSpec's).
    Q("q206_lsh_appended_index",
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
        |  c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
        |  scored AS (
        |    SELECT query_id, neighbor_id,
        |      ${dotSql("qv", "cv")}
        |      / (SQRT(${dotSql("qv", "qv")}) * SQRT(${dotSql("cv", "cv")})) AS cosine
        |    FROM q CROSS JOIN c WHERE neighbor_id <> query_id)
        |SELECT query_id, CAST(rnk AS BIGINT) AS rnk, neighbor_id,
        |  CAST(CAST(cosine AS DECIMAL(18,9)) AS DOUBLE) AS cosine FROM (
        |  SELECT query_id, neighbor_id, cosine,
        |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
        |  FROM scored)
        |WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin) { (s, dir) =>
      val emb = embeddings(s, dir).select(col("vec_id"), col("embedding"))
      val base = emb.filter(col("vec_id") % 5 =!= 0)
      val delta = emb.filter(col("vec_id") % 5 === 0)
      graft.sources.Csv.bucketedSink(
        Similarity.signLshIndex(base, "vec_id", "embedding", dim = 64,
          bits = 0, tables = 2, maxBucketSize = 1000000),
        "graft_q206_lsh_index", Seq("t", "b"), buckets = 8)
      graft.sources.Csv.bucketedSink(emb, "graft_q206_ann_corpus",
        Seq("vec_id"), buckets = 8)
      Similarity.signLshAppend("graft_q206_lsh_index", delta, "vec_id",
        "embedding", dim = 64, buckets = 8, bits = 0, tables = 2,
        maxBucketSize = 1000000)
      Similarity.signLshTopKFromIndex(
        s.table("graft_q206_lsh_index"), s.table("graft_q206_ann_corpus"),
        s.table("graft_q206_ann_corpus").filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, dim = 64, bits = 0, tables = 2)
        .withColumn("cosine",
          col("cosine").cast(org.apache.spark.sql.types.DecimalType(18, 9)).cast("double"))
        .orderBy("query_id", "rnk")
    },

    // ---- ANN against a PERSISTED + APPENDED PQ index (round-18) ----
    // Closes the index-symmetry gap (VERDICT r17 item 3): sign-LSH and
    // IVF had persisted-index + delta-append + from-index paths
    // (q202–q206); PQ codes were recomputed in-query every time. The
    // packed codes table is built on 80% of the corpus with the
    // oracle-replayable exact-decimal encode, persisted bucketed by
    // neighbor_id, the remaining 20% delta-appended under the FROZEN
    // codebook (re-sampling would re-home every code — the rebuild
    // this operator avoids), and the query runs pqTopKFromIndex over
    // the two persisted tables. The oracle is q120's full protocol
    // replay with ONE change: the codebook CTE samples from the BASE
    // rows only (vec_id % 5 <> 0) — exactly the frozen-codebook
    // maintenance contract — while codes/ADC cover the whole appended
    // corpus, so a dropped or re-encoded delta row breaks the hash.
    Q("q207_pq_persisted_index", {
      def sq(a: String, b: String) =
        s"""(SELECT SUM(CAST((CAST($a[i+1] AS DOUBLE) - CAST($b[i+1] AS DOUBLE))
           | * (CAST($a[i+1] AS DOUBLE) - CAST($b[i+1] AS DOUBLE))
           | AS DECIMAL(38,18))) FROM range(8) t(i))""".stripMargin.replaceAll("\n\\s*\\|?", " ")
      s"""WITH hv AS (SELECT * FROM ${md5Hash64Sql("vec_id",
             "md5(CAST(vec_id AS VARCHAR))", "embeddings", "h")}),
        |hvb AS (SELECT * FROM hv WHERE vec_id % 5 <> 0),
        |samp AS (SELECT vec_id, CAST(rn - 1 AS INTEGER) AS code FROM (
        |    SELECT vec_id, row_number() OVER (ORDER BY h, vec_id) AS rn FROM hvb)
        |  WHERE rn <= 16),
        |js AS (SELECT CAST(unnest(range(8)) AS INTEGER) AS j),
        |cb AS (SELECT j, code,
        |    list_transform(range(8), i -> e.embedding[j*8 + i + 1]) AS cvec
        |  FROM samp JOIN embeddings e USING (vec_id) CROSS JOIN js),
        |subs AS (SELECT vec_id, j,
        |    list_transform(range(8), i -> embedding[j*8 + i + 1]) AS sub
        |  FROM embeddings CROSS JOIN js),
        |ed AS (SELECT s.vec_id, s.j, cb.code, ${sq("s.sub", "cb.cvec")} AS dist
        |  FROM subs s JOIN cb ON s.j = cb.j),
        |codes AS (SELECT vec_id AS neighbor_id, j, code FROM (
        |    SELECT vec_id, j, code,
        |      row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, code) AS rn
        |    FROM ed) WHERE rn = 1),
        |qs AS (SELECT vec_id AS query_id, j,
        |    list_transform(range(8), i -> embedding[j*8 + i + 1]) AS qsub
        |  FROM embeddings CROSS JOIN js WHERE vec_id < 3),
        |td AS (SELECT query_id, q.j, cb.code, ${sq("q.qsub", "cb.cvec")} AS d
        |  FROM qs q JOIN cb ON q.j = cb.j),
        |adc AS (SELECT query_id, neighbor_id, SUM(d) AS adc
        |  FROM codes c JOIN td ON td.j = c.j AND td.code = c.code
        |  WHERE neighbor_id <> query_id GROUP BY 1, 2)
        |SELECT query_id, CAST(rn AS BIGINT) AS rank, neighbor_id,
        |  CAST(FLOOR(adc * 1000000000 + 0.5) AS DOUBLE) / 1000000000.0 AS adc
        |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
        |        ORDER BY adc, neighbor_id) AS rn FROM adc)
        |WHERE rn <= 10 ORDER BY query_id, rank""".stripMargin
    }) { (s, dir) =>
      val emb = embeddings(s, dir).select(col("vec_id"), col("embedding"))
      val base = emb.filter(col("vec_id") % 5 =!= 0)
      val delta = emb.filter(col("vec_id") % 5 === 0)
      val idx = Similarity.pqIndex(base, "vec_id", "embedding",
        m = 8, k = 16, dim = 64, exactEncode = true)
      graft.sources.Csv.bucketedSink(idx.codes, "graft_q207_pq_codes",
        Seq("neighbor_id"), buckets = 8)
      graft.sources.Csv.bucketedSink(idx.codebook, "graft_q207_pq_cb",
        Seq("j", "code"), buckets = 1)
      Similarity.pqAppend("graft_q207_pq_codes", s.table("graft_q207_pq_cb"),
        delta, "vec_id", "embedding", m = 8, dim = 64, buckets = 8,
        exactEncode = true)
      Similarity.pqTopKFromIndex(s.table("graft_q207_pq_codes"),
        s.table("graft_q207_pq_cb"), emb.filter(col("vec_id") < 3),
        "vec_id", "embedding", m = 8, dim = 64, topK = 10)
        .orderBy("query_id", "rank")
    },

    // ---- ANN against a PERSISTED IVFPQ index (round-18, FAISS IVFADC) ----
    // The serving composition VERDICT r17 item 1 names: PQ codes stored
    // IN the cells table, candidates scored from m code-table lookups
    // inside the probe join (bytes, never vectors), true vectors fetched
    // only for the ≤ rerank ADC survivors' exact re-rank. Full coverage
    // (nProbe = nCells, rerank ≥ corpus) degenerates to exact search, so
    // q78's brute-force SQL hash-checks the whole persisted-IVFPQ path:
    // the fused assign+encode index scan, the bucketed write, catalog
    // read, probe join, ADC projection, margin prefilter, and the
    // exchange-free re-rank attach.
    Q("q208_ivfpq_persisted_index",
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
        |  c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
        |  scored AS (
        |    SELECT query_id, neighbor_id,
        |      ${dotSql("qv", "cv")}
        |      / (SQRT(${dotSql("qv", "qv")}) * SQRT(${dotSql("cv", "cv")})) AS cosine
        |    FROM q CROSS JOIN c WHERE neighbor_id <> query_id)
        |SELECT query_id, CAST(rnk AS BIGINT) AS rnk, neighbor_id,
        |  CAST(CAST(cosine AS DECIMAL(18,9)) AS DOUBLE) AS cosine FROM (
        |  SELECT query_id, neighbor_id, cosine,
        |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
        |  FROM scored)
        |WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin) { (s, dir) =>
      val emb = embeddings(s, dir).select(col("vec_id"), col("embedding"))
      val idx = Similarity.ivfPqIndex(emb, "vec_id", "embedding",
        nCells = 16, m = 8, k = 16, dim = 64)
      graft.sources.Csv.bucketedSink(idx.cells, "graft_q208_ivfpq_cells",
        Seq("neighbor_id"), buckets = 8)
      graft.sources.Csv.bucketedSink(idx.centroids,
        "graft_q208_ivfpq_centroids", Seq("cell"), buckets = 1)
      graft.sources.Csv.bucketedSink(idx.codebook, "graft_q208_ivfpq_cb",
        Seq("j", "code"), buckets = 1)
      graft.sources.Csv.bucketedSink(emb, "graft_q208_ann_corpus",
        Seq("vec_id"), buckets = 8)
      Similarity.ivfPqTopKFromIndex(
        s.table("graft_q208_ivfpq_cells"),
        s.table("graft_q208_ivfpq_centroids"),
        s.table("graft_q208_ivfpq_cb"),
        s.table("graft_q208_ann_corpus"),
        s.table("graft_q208_ann_corpus").filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, m = 8, dim = 64,
        nProbe = 16, rerank = 1000000)
        .withColumn("cosine",
          col("cosine").cast(org.apache.spark.sql.types.DecimalType(18, 9)).cast("double"))
        .orderBy("query_id", "rnk")
    },

    // ---- IVFPQ with a BINDING rerank, exact residual-ADC replay ----
    // q208 certifies the plumbing at full coverage, where the ADC
    // prefilter passes everything and garbage lookups would still yield
    // exact output; this query makes the RESIDUAL ADC SELECTION itself
    // oracle-checkable (round 19 — the IVFADC scheme's defining step:
    // codes describe x − centroid(cell), and the query re-bases into
    // each candidate's cell before the table lookup). A KMeans
    // quantizer cannot be replayed in SQL, so the build runs under the
    // md5-deterministic quantizer (deterministicCentroids — the
    // pqCodebook sample rule on the quantizer; recall comes from
    // nProbe, not centroid polish) with the fully-exact encode:
    // exact-decimal cell assignment (ties to the lower cell), residual
    // codebook from the SALTED-md5-sampled rows' residuals (the salt —
    // Similarity.IvfPqCbSalt — decorrelates the training sample from
    // the centroid pick: the unsalted rule made every sampled residual
    // exactly zero whenever nCells ≥ k), exact-decimal
    // residual codes, per-(query, cell) residual ADC tables, strict
    // (adc asc, id) top-rerank = 10, exact-cosine re-rank of those 10.
    // A wrong assignment, residual, code, table entry, or boundary
    // rule breaks the hash.
    Q("q209_ivfpq_adc_rerank", {
      // exact squared L2 over a FLOAT column vs a double list (the
      // ExactSqDist capture: IEEE double diff/square, DECIMAL(38,18))
      def sqf(n: Int, a: String, b: String) =
        s"""(SELECT SUM(CAST((CAST($a[i+1] AS DOUBLE) - $b[i+1])
           | * (CAST($a[i+1] AS DOUBLE) - $b[i+1])
           | AS DECIMAL(38,18))) FROM range($n) t(i))""".stripMargin.replaceAll("\n\\s*\\|?", " ")
      // exact squared L2 over two double lists
      def sqd(n: Int, a: String, b: String) =
        s"""(SELECT SUM(CAST(($a[i+1] - $b[i+1]) * ($a[i+1] - $b[i+1])
           | AS DECIMAL(38,18))) FROM range($n) t(i))""".stripMargin.replaceAll("\n\\s*\\|?", " ")
      s"""WITH hv AS (SELECT * FROM ${md5Hash64Sql("vec_id",
             "md5(CAST(vec_id AS VARCHAR))", "embeddings", "h")}),
        |rk AS (SELECT vec_id, row_number() OVER (ORDER BY h, vec_id) AS rn FROM hv),
        |cents AS (SELECT CAST(rn - 1 AS INTEGER) AS cell,
        |    list_transform(e.embedding, x -> CAST(x AS DOUBLE)) AS ccvec
        |  FROM rk JOIN embeddings e USING (vec_id) WHERE rn <= 4),
        |js AS (SELECT CAST(unnest(range(8)) AS INTEGER) AS j),
        |ad AS (SELECT v.vec_id, c.cell, ${sqf(64, "v.embedding", "c.ccvec")} AS dist
        |  FROM embeddings v CROSS JOIN cents c),
        |asgn AS (SELECT vec_id, cell FROM (
        |    SELECT vec_id, cell,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
        |    FROM ad) WHERE rn = 1),
        |rsub AS (SELECT v.vec_id, a.cell, j.j,
        |    list_transform(range(8), i ->
        |      CAST(v.embedding[j.j*8 + i + 1] AS DOUBLE) - c.ccvec[j.j*8 + i + 1]) AS sub
        |  FROM embeddings v JOIN asgn a USING (vec_id)
        |  JOIN cents c USING (cell) CROSS JOIN js j),
        |hv2 AS (SELECT * FROM ${md5Hash64Sql("vec_id",
             "md5('graft-ivfpq-cb#' || CAST(vec_id AS VARCHAR))", "embeddings", "h2")}),
        |samp AS (SELECT vec_id, CAST(rn - 1 AS INTEGER) AS code FROM (
        |    SELECT vec_id, row_number() OVER (ORDER BY h2, vec_id) AS rn FROM hv2)
        |  WHERE rn <= 16),
        |cb AS (SELECT r.j, s.code, r.sub AS cvec FROM samp s JOIN rsub r USING (vec_id)),
        |ed AS (SELECT r.vec_id, r.cell, r.j, cb.code, ${sqd(8, "r.sub", "cb.cvec")} AS dist
        |  FROM rsub r JOIN cb ON r.j = cb.j),
        |codes AS (SELECT vec_id AS neighbor_id, cell, j, code FROM (
        |    SELECT vec_id, cell, j, code,
        |      row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, code) AS rn
        |    FROM ed) WHERE rn = 1),
        |qr AS (SELECT q.vec_id AS query_id, c.cell, j.j,
        |    list_transform(range(8), i ->
        |      CAST(q.embedding[j.j*8 + i + 1] AS DOUBLE) - c.ccvec[j.j*8 + i + 1]) AS qsub
        |  FROM embeddings q CROSS JOIN cents c CROSS JOIN js j WHERE q.vec_id < 3),
        |td AS (SELECT query_id, qr.cell, qr.j, cb.code, ${sqd(8, "qr.qsub", "cb.cvec")} AS d
        |  FROM qr JOIN cb ON qr.j = cb.j),
        |adc AS (SELECT t.query_id, co.neighbor_id, SUM(t.d) AS adc
        |  FROM codes co JOIN td t ON t.cell = co.cell AND t.j = co.j AND t.code = co.code
        |  WHERE co.neighbor_id <> t.query_id GROUP BY 1, 2),
        |surv AS (SELECT query_id, neighbor_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id
        |      ORDER BY adc, neighbor_id) AS rn FROM adc)
        |  WHERE rn <= 10),
        |resc AS (SELECT s.query_id, s.neighbor_id,
        |    ${dotSql("qe.embedding", "ne.embedding")}
        |    / (SQRT(${dotSql("qe.embedding", "qe.embedding")})
        |       * SQRT(${dotSql("ne.embedding", "ne.embedding")})) AS cosine
        |  FROM surv s
        |  JOIN embeddings qe ON qe.vec_id = s.query_id
        |  JOIN embeddings ne ON ne.vec_id = s.neighbor_id)
        |SELECT query_id, CAST(rnk AS BIGINT) AS rnk, neighbor_id,
        |  CAST(CAST(cosine AS DECIMAL(18,9)) AS DOUBLE) AS cosine FROM (
        |  SELECT query_id, neighbor_id, cosine,
        |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
        |  FROM resc)
        |WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin
    }) { (s, dir) =>
      val emb = embeddings(s, dir).select(col("vec_id"), col("embedding"))
      val cents = Similarity.deterministicCentroids(emb, "vec_id",
        "embedding", nCells = 4)
      val idx = Similarity.ivfPqIndexWith(emb, "vec_id", "embedding",
        cents, m = 8, k = 16, dim = 64, exactEncode = true)
      Similarity.ivfPqTopKFromIndex(idx.cells, idx.centroids, idx.codebook,
        emb, emb.filter(col("vec_id") < 3), "vec_id", "embedding",
        k = 5, m = 8, dim = 64, nProbe = 4, rerank = 10, exactAdc = true)
        .withColumn("cosine",
          col("cosine").cast(org.apache.spark.sql.types.DecimalType(18, 9)).cast("double"))
        .orderBy("query_id", "rnk")
    },

    // ---- READ-ONLY from-index serving twins (round 19) ----
    // q202-q209 are index-LIFECYCLE certifications: each re-trains and
    // re-writes its persisted tables every run, so their headline cost
    // is dominated by the BUILD half — ~22 s of the round-18 judge
    // bench — and grows mechanically with every index family (VERDICT
    // r18 item 2). Benches measure them in the separate "build" tier
    // (the audit-tier precedent); these three twins keep the
    // from-index QUERY halves in the headline: each reads the tables
    // its builder (registered earlier — q203/q204/q208) wrote in this
    // session's warehouse and runs ONLY the serving query. Read-only by
    // construction: no sink calls, so their timings are pure
    // probe/score/re-rank. Oracles are the builders' full-coverage
    // exact-search SQL (identical output contract). NOTE: a
    // name-filtered Verify/Bench run must include the builder, or the
    // twin's table read fails loudly (registration order guarantees
    // builder-before-twin on every unfiltered drive, including the
    // invariant sweeps, because builder impls write eagerly).
    Q("q210_lsh_index_read", exactAnnTop5Sql) { (s, dir) =>
      Similarity.signLshTopKFromIndex(
        builderTable(s, "graft_q203_lsh_index", "q203_lsh_persisted_index"),
        builderTable(s, "graft_q203_ann_corpus", "q203_lsh_persisted_index"),
        builderTable(s, "graft_q203_ann_corpus", "q203_lsh_persisted_index")
          .filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, dim = 64, bits = 0, tables = 2)
        .withColumn("cosine",
          col("cosine").cast(org.apache.spark.sql.types.DecimalType(18, 9)).cast("double"))
        .orderBy("query_id", "rnk")
    },

    Q("q211_ivf_index_read", exactAnnTop5Sql) { (s, dir) =>
      Similarity.ivfTopKFromIndex(
        builderTable(s, "graft_q204_ivf_cells", "q204_ivf_persisted_index"),
        builderTable(s, "graft_q204_ivf_centroids", "q204_ivf_persisted_index"),
        builderTable(s, "graft_q204_ann_corpus", "q204_ivf_persisted_index"),
        builderTable(s, "graft_q204_ann_corpus", "q204_ivf_persisted_index")
          .filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, nProbe = 16)
        .withColumn("cosine",
          col("cosine").cast(org.apache.spark.sql.types.DecimalType(18, 9)).cast("double"))
        .orderBy("query_id", "rnk")
    },

    Q("q212_ivfpq_index_read", exactAnnTop5Sql) { (s, dir) =>
      Similarity.ivfPqTopKFromIndex(
        builderTable(s, "graft_q208_ivfpq_cells", "q208_ivfpq_persisted_index"),
        builderTable(s, "graft_q208_ivfpq_centroids", "q208_ivfpq_persisted_index"),
        builderTable(s, "graft_q208_ivfpq_cb", "q208_ivfpq_persisted_index"),
        builderTable(s, "graft_q208_ann_corpus", "q208_ivfpq_persisted_index"),
        builderTable(s, "graft_q208_ann_corpus", "q208_ivfpq_persisted_index")
          .filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, m = 8, dim = 64,
        nProbe = 16, rerank = 1000000)
        .withColumn("cosine",
          col("cosine").cast(org.apache.spark.sql.types.DecimalType(18, 9)).cast("double"))
        .orderBy("query_id", "rnk")
    },

    // ---- predicate-constrained ANN (round 20, VERDICT r19 item 5) ----
    // Production ANN queries routinely carry a filter ("top-5 within
    // lang = fr"); post-filtering a plain top-k silently returns < k
    // rows. These two read-only twins push the predicate into candidate
    // generation: the caller's metadata filter becomes a one-column
    // allowed-id frame (predicate pushed down to the METADATA scan),
    // semi-joined onto the persisted cells scan BEFORE the probe join —
    // id-only, broadcast under a selective filter, so the bucketed
    // index layout survives and disallowed rows never reach ADC/re-rank
    // (Similarity.restrictIndex). At full coverage the result must
    // equal EXACT search over the filtered corpus — the q85/q78
    // full-coverage-≡-exact pattern, with the filter inside both sides.
    // Recall-vs-selectivity under partial probes is measured by the
    // `ann filtered` ScaleStress family (SCALE.md round 20).
    Q("q213_ivf_filtered_topk",
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
        |  c AS (SELECT e.vec_id AS neighbor_id, e.embedding AS cv
        |        FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
        |        WHERE d.lang = 'fr'),
        |  scored AS (
        |    SELECT query_id, neighbor_id,
        |      ${dotSql("qv", "cv")}
        |      / (SQRT(${dotSql("qv", "qv")}) * SQRT(${dotSql("cv", "cv")})) AS cosine
        |    FROM q CROSS JOIN c WHERE neighbor_id <> query_id)
        |SELECT query_id, CAST(rnk AS BIGINT) AS rnk, neighbor_id,
        |  CAST(CAST(cosine AS DECIMAL(18,9)) AS DOUBLE) AS cosine FROM (
        |  SELECT query_id, neighbor_id, cosine,
        |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
        |  FROM scored)
        |WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin) { (s, dir) =>
      val allowed = documents(s, dir).filter(col("lang") === "fr")
        .select(col("doc_id"))
      Similarity.ivfTopKFromIndex(
        builderTable(s, "graft_q204_ivf_cells", "q204_ivf_persisted_index"),
        builderTable(s, "graft_q204_ivf_centroids", "q204_ivf_persisted_index"),
        builderTable(s, "graft_q204_ann_corpus", "q204_ivf_persisted_index"),
        builderTable(s, "graft_q204_ann_corpus", "q204_ivf_persisted_index")
          .filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, nProbe = 16,
        allowed = Some(allowed))
        .withColumn("cosine",
          col("cosine").cast(org.apache.spark.sql.types.DecimalType(18, 9)).cast("double"))
        .orderBy("query_id", "rnk")
    },

    Q("q214_ivfpq_filtered_topk",
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
        |  c AS (SELECT vec_id AS neighbor_id, embedding AS cv
        |        FROM embeddings WHERE label IN (1, 3, 5)),
        |  scored AS (
        |    SELECT query_id, neighbor_id,
        |      ${dotSql("qv", "cv")}
        |      / (SQRT(${dotSql("qv", "qv")}) * SQRT(${dotSql("cv", "cv")})) AS cosine
        |    FROM q CROSS JOIN c WHERE neighbor_id <> query_id)
        |SELECT query_id, CAST(rnk AS BIGINT) AS rnk, neighbor_id,
        |  CAST(CAST(cosine AS DECIMAL(18,9)) AS DOUBLE) AS cosine FROM (
        |  SELECT query_id, neighbor_id, cosine,
        |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
        |  FROM scored)
        |WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin) { (s, dir) =>
      val allowed = embeddings(s, dir)
        .filter(col("label").isin(1, 3, 5)).select(col("vec_id"))
      Similarity.ivfPqTopKFromIndex(
        builderTable(s, "graft_q208_ivfpq_cells", "q208_ivfpq_persisted_index"),
        builderTable(s, "graft_q208_ivfpq_centroids", "q208_ivfpq_persisted_index"),
        builderTable(s, "graft_q208_ivfpq_cb", "q208_ivfpq_persisted_index"),
        builderTable(s, "graft_q208_ann_corpus", "q208_ivfpq_persisted_index"),
        builderTable(s, "graft_q208_ann_corpus", "q208_ivfpq_persisted_index")
          .filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, m = 8, dim = 64,
        nProbe = 16, rerank = 1000000, allowed = Some(allowed))
        .withColumn("cosine",
          col("cosine").cast(org.apache.spark.sql.types.DecimalType(18, 9)).cast("double"))
        .orderBy("query_id", "rnk")
    },

    // ---- delete-from-index (round 20, VERDICT r19 item 2) ----
    // A takedown (q160) removes rows from the corpus; until round 20 a
    // persisted index could only append and compact, so forgetting a
    // row meant a full rebuild. These two drive BOTH delete arms end
    // to end in the q205/q206 appended-index pattern: build the index,
    // persist it, DELETE a slice, query at full coverage — the oracle
    // is exact search over the POST-DELETE corpus, so a surviving
    // deleted row (or a lost survivor) breaks the hash. Models stay
    // frozen through both arms: removing rows cannot re-home the
    // survivors, so frozen-model delete is exact (IndexAppendSpec pins
    // delete ≡ rebuild-minus-rows).
    // q215 = the ANTI-JOIN REWRITE arm (Csv.bucketedDelete): one scan +
    // rewrite through the catalog bucketing spec, zero model work,
    // read overhead zero afterwards. q216 = the TOMBSTONE arm
    // (Similarity.withoutTombstones): O(|deleted|) tombstone write,
    // readers anti-join the tombstone table before candidate
    // generation. The `append` ScaleStress decade prices the arms.
    Q("q215_ivf_deleted_index",
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
        |  c AS (SELECT vec_id AS neighbor_id, embedding AS cv
        |        FROM embeddings WHERE vec_id % 7 <> 0),
        |  scored AS (
        |    SELECT query_id, neighbor_id,
        |      ${dotSql("qv", "cv")}
        |      / (SQRT(${dotSql("qv", "qv")}) * SQRT(${dotSql("cv", "cv")})) AS cosine
        |    FROM q CROSS JOIN c WHERE neighbor_id <> query_id)
        |SELECT query_id, CAST(rnk AS BIGINT) AS rnk, neighbor_id,
        |  CAST(CAST(cosine AS DECIMAL(18,9)) AS DOUBLE) AS cosine FROM (
        |  SELECT query_id, neighbor_id, cosine,
        |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
        |  FROM scored)
        |WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin) { (s, dir) =>
      val emb = embeddings(s, dir).select(col("vec_id"), col("embedding"))
      val idx = Similarity.ivfIndex(emb, "vec_id", "embedding", nCells = 16)
      graft.sources.Csv.bucketedSink(idx.cells, "graft_q215_ivf_cells",
        Seq("neighbor_id"), buckets = 8)
      graft.sources.Csv.bucketedSink(idx.centroids,
        "graft_q215_ivf_centroids", Seq("cell"), buckets = 1)
      graft.sources.Csv.bucketedSink(emb, "graft_q215_ann_corpus",
        Seq("vec_id"), buckets = 8)
      graft.sources.Csv.bucketedDelete(s, "graft_q215_ivf_cells",
        emb.filter(col("vec_id") % 7 === 0).select(col("vec_id")),
        "neighbor_id")
      Similarity.ivfTopKFromIndex(
        s.table("graft_q215_ivf_cells"), s.table("graft_q215_ivf_centroids"),
        s.table("graft_q215_ann_corpus"),
        s.table("graft_q215_ann_corpus").filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, nProbe = 16)
        .withColumn("cosine",
          col("cosine").cast(org.apache.spark.sql.types.DecimalType(18, 9)).cast("double"))
        .orderBy("query_id", "rnk")
    },

    Q("q216_ivfpq_tombstoned_index",
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
        |  c AS (SELECT vec_id AS neighbor_id, embedding AS cv
        |        FROM embeddings WHERE vec_id % 9 <> 0),
        |  scored AS (
        |    SELECT query_id, neighbor_id,
        |      ${dotSql("qv", "cv")}
        |      / (SQRT(${dotSql("qv", "qv")}) * SQRT(${dotSql("cv", "cv")})) AS cosine
        |    FROM q CROSS JOIN c WHERE neighbor_id <> query_id)
        |SELECT query_id, CAST(rnk AS BIGINT) AS rnk, neighbor_id,
        |  CAST(CAST(cosine AS DECIMAL(18,9)) AS DOUBLE) AS cosine FROM (
        |  SELECT query_id, neighbor_id, cosine,
        |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
        |  FROM scored)
        |WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin) { (s, dir) =>
      val emb = embeddings(s, dir).select(col("vec_id"), col("embedding"))
      val idx = Similarity.ivfPqIndex(emb, "vec_id", "embedding",
        nCells = 16, m = 8, k = 16, dim = 64)
      graft.sources.Csv.bucketedSink(idx.cells, "graft_q216_ivfpq_cells",
        Seq("neighbor_id"), buckets = 8)
      graft.sources.Csv.bucketedSink(idx.centroids,
        "graft_q216_ivfpq_centroids", Seq("cell"), buckets = 1)
      graft.sources.Csv.bucketedSink(idx.codebook, "graft_q216_ivfpq_cb",
        Seq("j", "code"), buckets = 1)
      graft.sources.Csv.bucketedSink(emb, "graft_q216_ann_corpus",
        Seq("vec_id"), buckets = 8)
      // the takedown itself: O(|deleted|) tombstone write, no index scan
      graft.sources.Csv.bucketedSink(
        emb.filter(col("vec_id") % 9 === 0).select(col("vec_id")),
        "graft_q216_tombstones", Seq("vec_id"), buckets = 1)
      Similarity.ivfPqTopKFromIndex(
        Similarity.withoutTombstones(s.table("graft_q216_ivfpq_cells"),
          s.table("graft_q216_tombstones")),
        s.table("graft_q216_ivfpq_centroids"),
        s.table("graft_q216_ivfpq_cb"),
        s.table("graft_q216_ann_corpus"),
        s.table("graft_q216_ann_corpus").filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, m = 8, dim = 64,
        nProbe = 16, rerank = 1000000)
        .withColumn("cosine",
          col("cosine").cast(org.apache.spark.sql.types.DecimalType(18, 9)).cast("double"))
        .orderBy("query_id", "rnk")
    },

    // ---- global top-k via the map-side margin-top-k aggregate ----
    // The ops/TopKAgg.scala combiner registered as its own surface (it
    // also runs inside every cosineTopK / rerankCandidates plan —
    // q41/q85/q78/q87/q120 hash its survivor sets transitively): global
    // top-25 documents by the q38 quality blend. Scale shape: the score
    // is scan-projection math; the aggregate ships one ≤25-pair sorted
    // buffer per map task (grouping-less groupBy ⇒ map-side partial
    // merge) instead of exchanging the corpus-sized score set the way a
    // rank window (or the two-stage topKPerKey) must; rank is the
    // buffer position. The oracle replays it as a plain ROW_NUMBER —
    // two rank algorithms, same answer (the q196 pattern).
    Q("q198_topk_agg_quality",
      s"""WITH sc AS (SELECT doc_id, $qualitySql AS q_score FROM documents),
        |r AS (SELECT doc_id, q_score,
        |    ROW_NUMBER() OVER (ORDER BY q_score DESC, doc_id) AS rank
        |  FROM sc)
        |SELECT CAST(rank AS BIGINT) AS rank, doc_id, q_score
        |FROM r WHERE rank <= 25 ORDER BY rank""".stripMargin) { (s, dir) =>
      documents(s, dir)
        .select(col("doc_id"),
          TextOps.qualityScore(col("text"), stops).as("q_score"))
        .agg(graft.ops.TopKAgg.topK(col("q_score"), col("doc_id"), 25)
          .as("__top"))
        .select(posexplode(col("__top")).as(Seq("__pos", "__t")))
        // the aggregate keeps score-ties at the k-th even at margin 0;
        // the oracle's ROW_NUMBER ... WHERE rank <= 25 is strictly k
        // rows, so cut at buffer position exactly as globalTopKByScore
        // does (quality scores saturate at 1.0, so boundary ties are
        // live, not theoretical)
        .filter(col("__pos") < 25)
        .select((col("__pos") + 1).cast("long").as("rank"),
          col("__t._2").as("doc_id"), col("__t._1").as("q_score"))
        .orderBy("rank")
    },

    // ---- sign-LSH recall@k audit (quantified approximation quality) ----
    // q45 is rows-only by design (its random-hyperplane double dots are
    // engine hashing); q85 proves full-coverage equivalence. This query
    // QUANTIFIES the approximate configuration: production bucketing
    // params (bits = 6, tables = 4 — q45's), per-query recall@5 of the
    // LSH candidates' top-k against the brute-force exact top-k, as an
    // exact rational table. Oracle-checkable because the audit bucketing
    // uses [[Similarity.lshBucket]]'s exactPlaneDots variant: per-term
    // DECIMAL capture makes each sign bit order-free, and the seeded
    // hyperplanes are driver constants embedded in the oracle as a
    // (t, b, d, p) VALUES table — sign flips vs the double-fold hot path
    // need |dot| < ~1e-13, so these recall numbers are representative.
    Q("q185_lsh_recall_at_k", {
      val planeRows = (0 until 4).flatMap { t =>
        val ps = graft.sim.Similarity.planes(64, 6, t, 42L)
        (0 until 6).flatMap(b => (0 until 64).map(d => s"($t,$b,$d,${ps(b)(d)})"))
      }.mkString(", ")
      s"""WITH pl AS (SELECT * FROM (VALUES $planeRows) v(t, b, d, p)),
        |ev AS (SELECT vec_id, CAST(i AS INTEGER) AS d,
        |    CAST(embedding[i+1] AS DOUBLE) AS v
        |  FROM embeddings, range(64) rng(i)),
        |sb AS (SELECT e.vec_id, p.t, p.b,
        |    SUM(CAST(e.v * p.p AS DECIMAL(38,18))) AS dp
        |  FROM ev e JOIN pl p ON p.d = e.d GROUP BY 1, 2, 3),
        |bk AS (SELECT vec_id, t,
        |    CAST(SUM(CASE WHEN dp >= 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS bkt
        |  FROM sb GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
        |  FROM bk q JOIN bk c ON q.t = c.t AND q.bkt = c.bkt
        |  WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id),
        |qe AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
        |ce AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
        |scored AS (SELECT cand.query_id, cand.neighbor_id,
        |    ${dotSql("qv", "cv")}
        |    / (SQRT(${dotSql("qv", "qv")}) * SQRT(${dotSql("cv", "cv")})) AS cosine
        |  FROM cand JOIN qe USING (query_id) JOIN ce USING (neighbor_id)),
        |ann AS (SELECT query_id, neighbor_id FROM (
        |    SELECT query_id, neighbor_id,
        |      row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rn
        |    FROM scored) WHERE rn <= 5),
        |exsc AS (SELECT qe.query_id, ce.neighbor_id,
        |    ${dotSql("qv", "cv")}
        |    / (SQRT(${dotSql("qv", "qv")}) * SQRT(${dotSql("cv", "cv")})) AS cosine
        |  FROM qe CROSS JOIN ce WHERE neighbor_id <> query_id),
        |ex AS (SELECT query_id, neighbor_id FROM (
        |    SELECT query_id, neighbor_id,
        |      row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rn
        |    FROM exsc) WHERE rn <= 5),
        |hits AS (SELECT a.query_id, COUNT(*) AS n_ann, COUNT(e.neighbor_id) AS n_hit
        |  FROM ann a LEFT JOIN ex e
        |    ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
        |  GROUP BY 1)
        |SELECT q.query_id, CAST(COALESCE(n_ann, 0) AS BIGINT) AS n_ann,
        |  CAST(COALESCE(n_hit, 0) AS BIGINT) AS n_hit,
        |  CAST(COALESCE(n_hit, 0) AS DOUBLE) / 5 AS recall
        |FROM qe q LEFT JOIN hits USING (query_id) ORDER BY query_id""".stripMargin
    }) { (s, dir) =>
      val emb = embeddings(s, dir)
      // the 10-row query frame is referenced by the ANN path, the exact
      // baseline, and the final readout — pinned (bounded: |queries|
      // rows), each reference was replaying the corpus scan + filter
      // (round 21)
      val q = graft.ops.Pin.pin(emb.filter(col("vec_id") < 10))
      val ann = Similarity.signLshTopK(emb, q, "vec_id", "embedding",
          k = 5, dim = 64, bits = 6, tables = 4,
          maxBucketSize = Int.MaxValue, exactPlaneDots = true)
        .select("query_id", "neighbor_id")
      val ex = Similarity.cosineTopK(emb, q, "vec_id", "embedding", 5)
        .select(col("query_id"), col("neighbor_id"), lit(1).as("hit"))
      val perQ = ann.join(ex, Seq("query_id", "neighbor_id"), "left")
        .groupBy("query_id")
        .agg(count(lit(1)).as("n_ann"), count(col("hit")).as("n_hit"))
      q.select(col("vec_id").as("query_id"))
        .join(perQ, Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("n_ann"), lit(0L)).as("n_ann"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"),
          (coalesce(col("n_hit"), lit(0L)).cast("double") / 5).as("recall"))
        .orderBy("query_id")
    },

    // ---- IVF recall@k audit (pinned quantizer, oracle-replayable) ----
    // The IVF twin of q185: q66 is rows-only (MLlib-trained centroids are
    // engine state), q78 proves full-probe equivalence; this audit
    // quantifies the APPROXIMATE probe setting with the quantizer pinned
    // — centroids are the 8 corpus vectors with smallest (md5(id), id)
    // (the pqCodebook sampling rule), assignment and probe order use the
    // exact-DECIMAL squared distance with ties to the lower cell index —
    // so cells, candidates, and recall@5 at nProbe = 2 are engine-exact
    // and the oracle replays the whole structure. Lloyd polish improves
    // recall, not mechanics; the audit pins mechanics.
    Q("q186_ivf_recall_at_k", {
      def sq(a: String, b: String) =
        s"""(SELECT SUM(CAST((CAST($a[i+1] AS DOUBLE) - CAST($b[i+1] AS DOUBLE))
           | * (CAST($a[i+1] AS DOUBLE) - CAST($b[i+1] AS DOUBLE))
           | AS DECIMAL(38,18))) FROM range(64) rng(i))""".stripMargin
          .replaceAll("\n\\s*\\|?", " ")
      s"""WITH cent AS (SELECT CAST(rn - 1 AS INTEGER) AS cell, embedding AS cvec FROM (
        |    SELECT vec_id, embedding,
        |      row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
        |    FROM embeddings) WHERE rn <= 8),
        |ad AS (SELECT e.vec_id, c.cell, ${sq("e.embedding", "c.cvec")} AS d
        |  FROM embeddings e CROSS JOIN cent c),
        |asg AS (SELECT vec_id AS neighbor_id, cell FROM (
        |    SELECT vec_id, cell,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn FROM ad)
        |  WHERE rn = 1),
        |qp AS (SELECT vec_id AS query_id, cell FROM (
        |    SELECT vec_id, cell,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn FROM ad
        |    WHERE vec_id < 10) WHERE rn <= 2),
        |cand AS (SELECT query_id, neighbor_id FROM qp JOIN asg USING (cell)
        |  WHERE neighbor_id <> query_id),
        |qe AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
        |ce AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
        |scored AS (SELECT cand.query_id, cand.neighbor_id,
        |    ${dotSql("qv", "cv")}
        |    / (SQRT(${dotSql("qv", "qv")}) * SQRT(${dotSql("cv", "cv")})) AS cosine
        |  FROM cand JOIN qe USING (query_id) JOIN ce USING (neighbor_id)),
        |ann AS (SELECT query_id, neighbor_id FROM (
        |    SELECT query_id, neighbor_id,
        |      row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rn
        |    FROM scored) WHERE rn <= 5),
        |exsc AS (SELECT qe.query_id, ce.neighbor_id,
        |    ${dotSql("qv", "cv")}
        |    / (SQRT(${dotSql("qv", "qv")}) * SQRT(${dotSql("cv", "cv")})) AS cosine
        |  FROM qe CROSS JOIN ce WHERE neighbor_id <> query_id),
        |ex AS (SELECT query_id, neighbor_id FROM (
        |    SELECT query_id, neighbor_id,
        |      row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rn
        |    FROM exsc) WHERE rn <= 5),
        |hits AS (SELECT a.query_id, COUNT(*) AS n_ann, COUNT(e.neighbor_id) AS n_hit
        |  FROM ann a LEFT JOIN ex e
        |    ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
        |  GROUP BY 1)
        |SELECT q.query_id, CAST(COALESCE(n_ann, 0) AS BIGINT) AS n_ann,
        |  CAST(COALESCE(n_hit, 0) AS BIGINT) AS n_hit,
        |  CAST(COALESCE(n_hit, 0) AS DOUBLE) / 5 AS recall
        |FROM qe q LEFT JOIN hits USING (query_id) ORDER BY query_id""".stripMargin
    }) { (s, dir) =>
      val emb = embeddings(s, dir)
      // pinned shared query frame — same round-21 note as q185
      val q = graft.ops.Pin.pin(emb.filter(col("vec_id") < 10))
      val ann = Similarity.ivfTopKPinned(emb, q, "vec_id", "embedding",
          k = 5, nCells = 8, nProbe = 2)
        .select("query_id", "neighbor_id")
      val ex = Similarity.cosineTopK(emb, q, "vec_id", "embedding", 5)
        .select(col("query_id"), col("neighbor_id"), lit(1).as("hit"))
      val perQ = ann.join(ex, Seq("query_id", "neighbor_id"), "left")
        .groupBy("query_id")
        .agg(count(lit(1)).as("n_ann"), count(col("hit")).as("n_hit"))
      q.select(col("vec_id").as("query_id"))
        .join(perQ, Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("n_ann"), lit(0L)).as("n_ann"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"),
          (coalesce(col("n_hit"), lit(0L)).cast("double") / 5).as("recall"))
        .orderBy("query_id")
    },

    // ---- PQ recall@k audit (completes the ANN audit triple) ----
    // q185 audits sign-LSH, q186 audits IVF; this audits q120's product
    // quantization: recall@10 of the ADC ranking against the exact
    // squared-L2 top-10 (PQ approximates L2, so L2 — not cosine — is
    // the fair reference). The whole PQ side is q120's already
    // oracle-replayable machinery (md5-ordered pinned codebooks, exact-
    // DECIMAL encode argmins and ADC sums); the exact side is the
    // brute-force decimal L2 rank over the broadcast query frame.
    // The number this table reports is exactly what m=8 subspaces ×
    // 16 codes buys at corpus scale — run it on a sample before
    // committing codebook parameters.
    Q("q187_pq_recall_at_k", {
      def sq(a: String, b: String, d: Int) =
        s"""(SELECT SUM(CAST((CAST($a[i+1] AS DOUBLE) - CAST($b[i+1] AS DOUBLE))
           | * (CAST($a[i+1] AS DOUBLE) - CAST($b[i+1] AS DOUBLE))
           | AS DECIMAL(38,18))) FROM range($d) rng(i))""".stripMargin
          .replaceAll("\n\\s*\\|?", " ")
      s"""WITH hv AS (SELECT * FROM ${md5Hash64Sql("vec_id",
             "md5(CAST(vec_id AS VARCHAR))", "embeddings", "h")}),
        |samp AS (SELECT vec_id, CAST(rn - 1 AS INTEGER) AS code FROM (
        |    SELECT vec_id, row_number() OVER (ORDER BY h, vec_id) AS rn FROM hv)
        |  WHERE rn <= 16),
        |js AS (SELECT CAST(unnest(range(8)) AS INTEGER) AS j),
        |cb AS (SELECT j, code,
        |    list_transform(range(8), i -> e.embedding[j*8 + i + 1]) AS cvec
        |  FROM samp JOIN embeddings e USING (vec_id) CROSS JOIN js),
        |subs AS (SELECT vec_id, j,
        |    list_transform(range(8), i -> embedding[j*8 + i + 1]) AS sub
        |  FROM embeddings CROSS JOIN js),
        |ed AS (SELECT s.vec_id, s.j, cb.code, ${sq("s.sub", "cb.cvec", 8)} AS dist
        |  FROM subs s JOIN cb ON s.j = cb.j),
        |codes AS (SELECT vec_id AS neighbor_id, j, code FROM (
        |    SELECT vec_id, j, code,
        |      row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, code) AS rn
        |    FROM ed) WHERE rn = 1),
        |qs AS (SELECT vec_id AS query_id, j,
        |    list_transform(range(8), i -> embedding[j*8 + i + 1]) AS qsub
        |  FROM embeddings CROSS JOIN js WHERE vec_id < 10),
        |td AS (SELECT query_id, q.j, cb.code, ${sq("q.qsub", "cb.cvec", 8)} AS d
        |  FROM qs q JOIN cb ON q.j = cb.j),
        |adc AS (SELECT query_id, neighbor_id, SUM(d) AS adc
        |  FROM codes c JOIN td ON td.j = c.j AND td.code = c.code
        |  WHERE neighbor_id <> query_id GROUP BY 1, 2),
        |ann AS (SELECT query_id, neighbor_id FROM (
        |    SELECT query_id, neighbor_id,
        |      row_number() OVER (PARTITION BY query_id ORDER BY adc, neighbor_id) AS rn
        |    FROM adc) WHERE rn <= 10),
        |qe AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
        |ce AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
        |exd AS (SELECT query_id, neighbor_id, ${sq("qv", "cv", 64)} AS d
        |  FROM qe CROSS JOIN ce WHERE neighbor_id <> query_id),
        |ex AS (SELECT query_id, neighbor_id FROM (
        |    SELECT query_id, neighbor_id,
        |      row_number() OVER (PARTITION BY query_id ORDER BY d, neighbor_id) AS rn
        |    FROM exd) WHERE rn <= 10),
        |hits AS (SELECT a.query_id, COUNT(*) AS n_ann, COUNT(e.neighbor_id) AS n_hit
        |  FROM ann a LEFT JOIN ex e
        |    ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
        |  GROUP BY 1)
        |SELECT q.query_id, CAST(COALESCE(n_ann, 0) AS BIGINT) AS n_ann,
        |  CAST(COALESCE(n_hit, 0) AS BIGINT) AS n_hit,
        |  CAST(COALESCE(n_hit, 0) AS DOUBLE) / 10 AS recall
        |FROM qe q LEFT JOIN hits USING (query_id) ORDER BY query_id""".stripMargin
    }) { (s, dir) =>
      val emb = embeddings(s, dir)
      // pinned shared query frame — same round-21 note as q185
      val q = graft.ops.Pin.pin(emb.filter(col("vec_id") < 10))
      val ann = Similarity.pqTopK(emb, q, "vec_id", "embedding",
          m = 8, k = 16, dim = 64, topK = 10)
        .select("query_id", "neighbor_id")
      val qf = q.select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id").orderBy(col("d").asc, col("neighbor_id"))
      val ex = emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"))
        .crossJoin(broadcast(qf))
        .filter(col("neighbor_id") =!= col("query_id"))
        .withColumn("d", Similarity.sqDistExact(col("qv"), col("cv")))
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= 10)
        .select(col("query_id"), col("neighbor_id"), lit(1).as("hit"))
      val perQ = ann.join(ex, Seq("query_id", "neighbor_id"), "left")
        .groupBy("query_id")
        .agg(count(lit(1)).as("n_ann"), count(col("hit")).as("n_hit"))
      q.select(col("vec_id").as("query_id"))
        .join(perQ, Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("n_ann"), lit(0L)).as("n_ann"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"),
          (coalesce(col("n_hit"), lit(0L)).cast("double") / 10).as("recall"))
        .orderBy("query_id")
    },

    // ---- key-skew report + salt plan ([[graft.ops.Skew.keySkewReport]]) ----
    // The measurement half of the salting decision the engine's salted
    // joins (q89/q127) presuppose: per-key counts of a prospective
    // shuffle key, share of table, hot_ratio vs the mean key (1.0 =
    // even; 50x pins one task at 50x the median), and the integer salt
    // factor that key needs to hit targetPerTask rows per subtask
    // (cold keys plan salts = 1 — no salting). One map-side-combined
    // groupBy + a broadcast 1-row total + the two-stage bounded top-k;
    // the audit costs the join's key shuffle minus its payload.
    Q("q188_key_skew_report",
      """WITH c AS (SELECT source AS key, COUNT(*) AS n FROM documents GROUP BY 1),
        |t AS (SELECT CAST(SUM(n) AS BIGINT) AS total,
        |    CAST(COUNT(*) AS BIGINT) AS n_keys FROM c),
        |r AS (SELECT key, n, ROW_NUMBER() OVER (ORDER BY n DESC, key) AS rank FROM c)
        |SELECT CAST(rank AS BIGINT) AS rank, key, CAST(n AS BIGINT) AS n,
        |  CAST(n AS DOUBLE) / total AS share,
        |  CAST(n AS DOUBLE) / (CAST(total AS DOUBLE) / n_keys) AS hot_ratio,
        |  CAST((n + 49) // 50 AS BIGINT) AS salts
        |FROM r CROSS JOIN t WHERE rank <= 8 ORDER BY rank""".stripMargin) { (s, dir) =>
      graft.ops.Skew.keySkewReport(documents(s, dir), "source",
          targetPerTask = 50L, topK = 8)
        .orderBy("rank")
    },

    // ---- vocabulary coverage curve ([[TextOps.vocabCoverage]]) ----
    // The tokenizer-sizing table: per candidate vocab size, the fraction
    // of token OCCURRENCES the top-N words cover and the OOV rate — the
    // curve that sizes a word vocabulary (or q116's BPE backbone)
    // empirically. One map-side-combined word count, the two-stage
    // bounded top-k (the vocabulary frame is billions of rows at corpus
    // scale — never a global window), per-size sums vs a broadcast
    // sizes list. Exact integer counts; the ratios are single divisions.
    Q("q189_vocab_coverage",
      """WITH w AS (SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
        |  FROM documents),
        |c AS (SELECT w, COUNT(*) AS n FROM w GROUP BY 1),
        |t AS (SELECT CAST(SUM(n) AS BIGINT) AS total,
        |    CAST(COUNT(*) AS BIGINT) AS n_distinct FROM c),
        |r AS (SELECT w, n, ROW_NUMBER() OVER (ORDER BY n DESC, w) AS rank FROM c),
        |s AS (SELECT CAST(unnest([64, 128, 256, 512, 1024, 2048]) AS INTEGER)
        |    AS vocab_size),
        |g AS (SELECT vocab_size, CAST(COUNT(*) AS BIGINT) AS n_words,
        |    CAST(SUM(n) AS BIGINT) AS covered_occurrences
        |  FROM r JOIN s ON r.rank <= s.vocab_size GROUP BY 1)
        |SELECT vocab_size, n_words, covered_occurrences,
        |  total AS total_occurrences, n_distinct AS n_distinct_words,
        |  CAST(covered_occurrences AS DOUBLE) / total AS coverage,
        |  CAST(total - covered_occurrences AS DOUBLE) / total AS oov_rate
        |FROM g CROSS JOIN t ORDER BY vocab_size""".stripMargin) { (s, dir) =>
      TextOps.vocabCoverage(documents(s, dir), "text",
          Seq(64, 128, 256, 512, 1024, 2048))
        .orderBy("vocab_size")
    },

    // ---- padding-efficiency audit ([[Packing.paddingEfficiency]]) ----
    // The batch-shaping decision table: slot-tokens each construction
    // strategy spends at maxLen = 128 — naive pad-to-max, bucketed
    // final-chunk padding ([32, 64, 96]), and q169's concat-and-cut
    // packing — as exact integer accounting over one scan aggregate.
    // The difference between row 1 and row 3's efficiency is the
    // compute a training run wastes on pad tokens by not packing.
    Q("q190_padding_efficiency",
      """WITH d AS (SELECT CAST(len(string_split_regex(trim(lower(text)), '\s+'))
        |      AS BIGINT) AS l FROM documents),
        |per AS (SELECT l, (l + 127) // 128 AS chunks,
        |    l - ((l + 127) // 128 - 1) * 128 AS last_len FROM d),
        |slot AS (SELECT l, chunks,
        |    CASE WHEN last_len <= 32 THEN 32 WHEN last_len <= 64 THEN 64
        |      WHEN last_len <= 96 THEN 96 ELSE 128 END AS last_slot
        |  FROM per),
        |a AS (SELECT CAST(SUM(chunks) AS BIGINT) AS n_seq,
        |    CAST(SUM(l) AS BIGINT) AS useful,
        |    CAST(SUM(CASE WHEN l = 0 THEN 0
        |      ELSE (chunks - 1) * 128 + last_slot END) AS BIGINT)
        |      AS bucketed_slots
        |  FROM slot),
        |rows3 AS (
        |  SELECT '1_pad_to_max' AS strategy, n_seq AS n_sequences,
        |    n_seq * 128 AS slot_tokens, useful AS useful_tokens FROM a
        |  UNION ALL
        |  SELECT '2_bucketed', n_seq, bucketed_slots, useful FROM a
        |  UNION ALL
        |  SELECT '3_packed', (useful + 127) // 128,
        |    ((useful + 127) // 128) * 128, useful FROM a)
        |SELECT strategy, CAST(n_sequences AS BIGINT) AS n_sequences,
        |  CAST(slot_tokens AS BIGINT) AS slot_tokens,
        |  CAST(useful_tokens AS BIGINT) AS useful_tokens,
        |  CAST(slot_tokens - useful_tokens AS BIGINT) AS padding_tokens,
        |  CAST(useful_tokens AS DOUBLE) / slot_tokens AS efficiency
        |FROM rows3 ORDER BY strategy""".stripMargin) { (s, dir) =>
      graft.text.Packing.paddingEfficiency(
          documents(s, dir).select(TextOps.tokenCount(col("text")).as("n_tok")),
          "n_tok", maxLen = 128, buckets = Seq(32, 64, 96))
        .orderBy("strategy")
    },

    // ---- shard reproducibility manifest ([[graft.ops.Shard.shardManifest]]) ----
    // The integrity record a data release ships: per rendezvous shard
    // (q138 routing), doc/token/distinct-fp counts, min/max fingerprints
    // and an ORDER-FREE content checksum (exact decimal sum of 64-bit
    // fingerprint hashes, wrapped to int64) — partitioning- and
    // row-order-invariant, and incrementally maintainable (append adds,
    // takedown subtracts — the q135 merge law applied to integrity), so
    // a rebuilt corpus is proven identical shard-by-shard without
    // re-reading either copy.
    Q("q191_shard_manifest",
      s"""WITH w AS (SELECT doc_id,
        |    md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp,
        |    CAST(len(string_split_regex(trim(lower(text)), '\\s+')) AS BIGINT)
        |      AS n_tok FROM documents),
        |hv AS (SELECT * FROM ${md5Hash64Sql("doc_id, r",
             "md5(CAST(doc_id AS VARCHAR) || '#shard' || CAST(r AS VARCHAR))",
             "(SELECT doc_id, i AS r FROM w, range(8) t(i))", "h")}),
        |a AS (SELECT doc_id, CAST(arg_max(r, h) AS BIGINT) AS shard
        |  FROM hv GROUP BY doc_id),
        |fhv AS (SELECT * FROM ${md5Hash64Sql("doc_id", "md5(fp)", "w", "fh")}),
        |j AS (SELECT a.shard, w.fp, w.n_tok, f.fh
        |  FROM w JOIN a USING (doc_id) JOIN fhv f USING (doc_id)),
        |g AS (SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
        |    CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_distinct_fp,
        |    SUM(CAST(fh AS HUGEINT)) AS s,
        |    MIN(fp) AS min_fp, MAX(fp) AS max_fp
        |  FROM j GROUP BY shard),
        |m AS (SELECT *,
        |    ((s % 18446744073709551616::HUGEINT) + 18446744073709551616::HUGEINT)
        |      % 18446744073709551616::HUGEINT AS mm FROM g)
        |SELECT shard, n_docs, n_tokens, n_distinct_fp,
        |  CAST(CASE WHEN mm >= 9223372036854775808::HUGEINT
        |    THEN mm - 18446744073709551616::HUGEINT ELSE mm END AS BIGINT)
        |    AS fp_checksum,
        |  min_fp, max_fp
        |FROM m ORDER BY shard""".stripMargin) { (s, dir) =>
      graft.ops.Shard.shardManifest(documents(s, dir), "doc_id", "text", 8)
        .orderBy("shard")
    },

    // ---- quality-threshold sweep (curation tuning curve) ----
    // q70 applies ONE quality threshold; this is the table that picks
    // it: per candidate threshold, docs and tokens kept and their
    // shares. ONE pass — a single aggregate computes the conditional
    // counts for every threshold (map-side combined), then the 5-row
    // result explodes into the curve; no per-threshold rescan, no row
    // multiplication through the scan. The q score is the engine's
    // bit-exact-replayable blend, so >= comparisons agree cross-engine.
    Q("q192_quality_threshold_sweep",
      s"""WITH q AS (SELECT doc_id,
        |    CAST(len(string_split_regex(trim(lower(text)), '\\s+')) AS BIGINT)
        |      AS n_tok,
        |    ($qualitySql) AS qs FROM documents),
        |th AS (SELECT CAST(unnest([0.3, 0.4, 0.5, 0.6, 0.7]) AS DOUBLE)
        |    AS threshold),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(n_tok) AS BIGINT) AS n_tokens FROM q),
        |k AS (SELECT threshold,
        |    CAST(COUNT(*) FILTER (WHERE qs >= threshold) AS BIGINT) AS kept_docs,
        |    CAST(COALESCE(SUM(n_tok) FILTER (WHERE qs >= threshold), 0) AS BIGINT)
        |      AS kept_tokens
        |  FROM q CROSS JOIN th GROUP BY threshold)
        |SELECT threshold, kept_docs, kept_tokens, n_docs, n_tokens,
        |  CAST(kept_docs AS DOUBLE) / n_docs AS doc_share,
        |  CAST(kept_tokens AS DOUBLE) / n_tokens AS token_share
        |FROM k CROSS JOIN tot ORDER BY threshold""".stripMargin) { (s, dir) =>
      val thresholds = Seq(0.3, 0.4, 0.5, 0.6, 0.7)
      val q = documents(s, dir).select(
        TextOps.tokenCount(col("text")).as("n_tok"),
        TextOps.qualityScore(col("text"), stops).as("qs"))
      val aggCols =
        Seq(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens")) ++
          thresholds.zipWithIndex.flatMap { case (t, i) => Seq(
            count(when(col("qs") >= t, 1)).as(s"kd_$i"),
            coalesce(sum(when(col("qs") >= t, col("n_tok"))), lit(0L))
              .as(s"kt_$i")) }
      val one = q.agg(aggCols.head, aggCols.tail: _*)
      one.select(explode(array(thresholds.zipWithIndex.map { case (t, i) =>
          struct(lit(t).as("threshold"), col(s"kd_$i").as("kept_docs"),
            col(s"kt_$i").as("kept_tokens"), col("n_docs"), col("n_tokens"))
        }: _*)).as("r"))
        .select("r.threshold", "r.kept_docs", "r.kept_tokens",
          "r.n_docs", "r.n_tokens")
        .withColumn("doc_share", col("kept_docs").cast("double") / col("n_docs"))
        .withColumn("token_share",
          col("kept_tokens").cast("double") / col("n_tokens"))
        .orderBy("threshold")
    },

    // ---- sampled pair-similarity histogram (dedup threshold tuning) ----
    // The q192 companion on the dedup side: the distribution of exact
    // Jaccard over document pairs sharing >= 1 shingle, in 10 bins —
    // the curve that justifies a near-dup threshold before committing
    // the corpus to it. Runs on q183's salted-md5 sample (distinct
    // salt), so the quadratic exact side scales by p² and each sampled
    // pair is an unbiased Bernoulli(p²) draw of a corpus pair; empty
    // bins surface as zero rows via the bounded bin frame.
    Q("q193_similarity_histogram",
      s"""WITH smp AS (SELECT * FROM ${md5Hash64Sql("doc_id, text",
             "md5(CAST(doc_id AS VARCHAR) || '#simhist')", "documents", "sh64")}),
        |sdocs AS (SELECT doc_id, text FROM smp
        |  WHERE (CAST(sh64 AS DOUBLE) + 9.223372036854776e18)
        |    / 1.8446744073709552e19 < 0.3),
        |toks AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t FROM sdocs),
        |shl AS (
        |  SELECT doc_id, CASE WHEN len(t) >= 3 THEN
        |      list_distinct(list_transform(range(1, len(t)-1), i -> array_to_string(t[i:i+2], ' ')))
        |    ELSE [array_to_string(t, ' ')] END AS shs
        |  FROM toks WHERE t IS NOT NULL),
        |sh AS (SELECT DISTINCT doc_id, unnest(shs) AS s FROM shl),
        |sizes AS (SELECT doc_id, COUNT(*) AS nsh FROM sh GROUP BY 1),
        |commonx AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |pj AS (SELECT CAST(n_common AS DOUBLE) / (sa.nsh + sb.nsh - n_common) AS j
        |  FROM commonx
        |  JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b),
        |binned AS (SELECT CAST(LEAST(FLOOR(j * 10), 9) AS BIGINT) AS bin,
        |    COUNT(*) AS n_pairs, MIN(j) AS min_j, MAX(j) AS max_j
        |  FROM pj GROUP BY 1)
        |SELECT CAST(b.bin AS BIGINT) AS bin,
        |  CAST(b.bin AS DOUBLE) / 10 AS j_lo,
        |  CAST(COALESCE(n_pairs, 0) AS BIGINT) AS n_pairs, min_j, max_j
        |FROM range(10) b(bin) LEFT JOIN binned USING (bin)
        |ORDER BY bin""".stripMargin) { (s, dir) =>
      import s.implicits._
      val u = (Dedup.md5Hash64(concat(col("doc_id").cast("string"),
          lit("#simhist"))).cast("double") + lit(9.223372036854776e18)) /
        lit(1.8446744073709552e19)
      val sdocs = documents(s, dir).filter(u < 0.3)
      val binned = Dedup.jaccardPairs(sdocs, "doc_id", "text",
          shingleSize = 3, threshold = 0.0)
        .withColumn("bin",
          least(floor(col("jaccard") * 10), lit(9.0)).cast("long"))
        .groupBy("bin").agg(count(lit(1)).as("n_pairs"),
          min(col("jaccard")).as("min_j"), max(col("jaccard")).as("max_j"))
      (0L until 10L).toDF("bin")
        .join(binned, Seq("bin"), "left")
        .select(col("bin"), (col("bin").cast("double") / 10).as("j_lo"),
          coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
          col("min_j"), col("max_j"))
        .orderBy("bin")
    },

    // ---- NB quality classifier (the GPT-3 / LLaMA curation stage) ----
    // Brown et al. 2020 §A / Touvron et al. 2023: a supervised
    // "reference-like" classifier trained on trusted-vs-crawl labels,
    // scoring the whole corpus. The engine form
    // ([[graft.text.Classifier]]): add-one multinomial NB over unigram
    // xxhash64 identities, trained on the salted-hash 80% split with
    // src0-src2 as the reference class, scored log-free — the per-token
    // posterior is ONE correctly-rounded division of exact
    // DECIMAL(38,0) integer products (the oracle replays them as
    // HUGEINT), the doc score the exact-grid mean posterior. The hash
    // match certifies train/score separation, the class-count
    // arithmetic, smoothing, and the unseen-token accounting end to
    // end; the oracle runs over TRUE token strings, doubling as the
    // 64-bit collision detector.
    Q("q199_nb_quality_classifier",
      s"""WITH ${nbPerDocSql(Seq("src0", "src1", "src2"), 0.8)}
        |SELECT doc_id, split, label, n_tokens, n_unseen, score,
        |  CASE WHEN score >= 0.5 THEN 'ref' ELSE 'other' END AS predicted
        |FROM sc ORDER BY doc_id""".stripMargin) { (s, dir) =>
      graft.text.Classifier.nbQuality(documents(s, dir), "doc_id", "text",
          isPos = col("source").isin("src0", "src1", "src2"),
          trainFrac = 0.8, salt = "#nb")
        .select(col("doc_id"), col("split"), col("label"), col("n_tokens"),
          col("n_unseen"), col("score"),
          when(col("predicted"), "ref").otherwise("other").as("predicted"))
        .orderBy("doc_id")
    },

    // ---- classifier-gated stochastic acceptance (GPT-3's keep rule) ----
    // The second half of the stage: keep a document iff
    // pareto(α) > 1 − score, with the Pareto draw made deterministic
    // and replayable — the uniform is the q150 salted md5 unit hash
    // and at α = 1 the inverse-CDF transform is RATIONAL
    // (pareto₁(u) = 1/u − 1), so the keep decision is exact double
    // arithmetic both engines replay bit-for-bit (α ≠ 1 needs pow —
    // transcendental, the usual trade). Reported as the per-(label,
    // split) acceptance audit — labels ride the classifier's single
    // corpus scan, so there is no re-attach join; the mean score
    // re-captures the grid (each score is already a replayed double,
    // ROUND is exact on both sides).
    Q("q200_classifier_acceptance",
      s"""WITH ${nbPerDocSql(Seq("src0", "src1", "src2"), 0.8)},
        |av AS (SELECT * FROM ${md5Hash64Sql("doc_id",
             "md5(CAST(doc_id AS VARCHAR) || '#nbacc')", "documents", "ah")}),
        |au AS (SELECT doc_id,
        |    (CAST(ah AS DOUBLE) + 9.223372036854776e18)
        |      / 1.8446744073709552e19 AS ua
        |  FROM av),
        |k AS (SELECT sc.label, sc.split, sc.score,
        |    (1.0 / au.ua - 1.0) > (1.0 - sc.score) AS keep
        |  FROM sc JOIN au USING (doc_id))
        |SELECT label, split, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(COUNT(*) FILTER (WHERE keep) AS BIGINT) AS n_kept,
        |  CAST(SUM(CAST(ROUND(score * 1000000000000.0, 0) AS DECIMAL(38,0)))
        |      AS DOUBLE) / 1000000000000.0 / CAST(COUNT(*) AS DOUBLE)
        |    AS mean_score
        |FROM k GROUP BY 1, 2 ORDER BY label, split""".stripMargin) { (s, dir) =>
      val scored = graft.text.Classifier.nbQuality(documents(s, dir),
        "doc_id", "text", isPos = col("source").isin("src0", "src1", "src2"),
        trainFrac = 0.8, salt = "#nb")
      graft.text.Classifier.paretoAccept(scored, "doc_id", "score",
          salt = "#nbacc")
        .groupBy("label", "split")
        .agg(count(lit(1)).as("n_docs"),
          count(when(col("keep"), lit(1))).as("n_kept"),
          (sum(round(col("score") * lit(1.0e12), 0)
              .cast(org.apache.spark.sql.types.DecimalType(38, 0)))
            .cast("double") / lit(1.0e12) /
            count(lit(1)).cast("double")).as("mean_score"))
        .orderBy("label", "split")
    })
}
