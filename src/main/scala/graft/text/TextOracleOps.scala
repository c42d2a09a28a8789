package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** The DuckDB oracle SQL builders and the static oracle map.
  *
  * Mixed into [[TextQueries]] (`this: TextQueries.type`): one of the
  * line-range-preserving module splits of the original single file —
  * zero behavior change, member order (and therefore val
  * initialization order) identical to the pre-split layout.
  */
private[text] trait TextOracleOps { this: TextQueries.type =>
  /** The dedup_lsh_pairs oracle, shared with dedup_components (which
    * computes the transitive closure over its pair output), over any
    * source relation so composed pipelines (corpus_clean) can dedup a
    * filtered split. */
  private[text] def lshPairsOracleFor(src: String): String =
    s"""WITH mh AS (${minhashSigSqlFor(src)}),
       |bands AS (
       |  SELECT doc_id, CAST(seed // ${K / BANDS} AS INT) AS band,
       |    string_agg(CAST(minh AS VARCHAR), ',' ORDER BY seed) AS sig
       |  FROM mh GROUP BY doc_id, band),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
       |sh AS (${shinglesSqlFor(src)}),
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT c.d1, c.d2, count(*) AS inter
       |  FROM cand c
       |  JOIN sh s1 ON c.d1 = s1.doc_id
       |  JOIN sh s2 ON c.d2 = s2.doc_id AND s1.shingle = s2.shingle
       |  GROUP BY c.d1, c.d2)
       |SELECT c.d1, c.d2, CAST(coalesce(i.inter, 0) AS BIGINT) AS inter,
       |  CAST(n1.n + n2.n - coalesce(i.inter, 0) AS BIGINT) AS uni,
       |  CAST(coalesce(i.inter, 0) AS DOUBLE) / (n1.n + n2.n - coalesce(i.inter, 0)) AS jaccard
       |FROM cand c
       |LEFT JOIN inter i ON c.d1 = i.d1 AND c.d2 = i.d2
       |JOIN sizes n1 ON c.d1 = n1.doc_id
       |JOIN sizes n2 ON c.d2 = n2.doc_id
       |WHERE CAST(coalesce(i.inter, 0) AS DOUBLE) / (n1.n + n2.n - coalesce(i.inter, 0)) >= 0.5""".stripMargin

  private[text] val lshPairsOracle: String = lshPairsOracleFor("documents")

  /** Brute-force exact-Jaccard pair CTEs shared by the
    * dedup_jaccard_join and lsh_recall oracles: `sh` (60-bit shingle
    * hashes), `sizes`, `i` (all-pairs intersection counts), and
    * `exact` — every pair with inter·10⁶ ≥ tPpm·uni, the INTEGER form
    * of the threshold gate (no float boundary). Being all-pairs is the
    * point: the engine's prefix-filtered join claims recall 1, so the
    * oracle must not share its pruning. */
  private[text] def exactPairsCtes(tPpm: Long): String =
    s"""sh AS (SELECT doc_id, ${phashSql("shingle")} AS h
       |      FROM (${shinglesSqlFor("documents")})),
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |i AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
       |      FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
       |      GROUP BY 1, 2),
       |exact AS (
       |  SELECT i.d1, i.d2, CAST(i.inter AS BIGINT) AS inter,
       |    CAST(n1.n + n2.n - i.inter AS BIGINT) AS uni
       |  FROM i
       |  JOIN sizes n1 ON i.d1 = n1.doc_id
       |  JOIN sizes n2 ON i.d2 = n2.doc_id
       |  WHERE i.inter * 1000000 >= $tPpm * (n1.n + n2.n - i.inter))""".stripMargin

  /** dedup_jaccard_join oracle: the brute-force join at threshold
    * `tPpm` ppm, with the same (d1, d2, inter, uni, jaccard) shape as
    * [[jaccardJoin]] (jaccard = the IEEE division of the same two
    * integers both engines carry). */
  private[text] def jaccardJoinOracle(tPpm: Long): String =
    s"""WITH ${exactPairsCtes(tPpm)}
       |SELECT d1, d2, inter, uni,
       |  CAST(inter AS DOUBLE) / uni AS jaccard
       |FROM exact""".stripMargin

  /** lsh_recall oracle: |exact| at the threshold vs how many of those
    * pairs the replayed minhash-band chain emits; recall as floor ppm
    * (pure integer arithmetic in both engines). */
  private[text] def lshRecallOracle(tPpm: Long): String =
    s"""WITH ${exactPairsCtes(tPpm)},
       |lsh AS (SELECT d1, d2 FROM ($lshPairsOracle)),
       |j AS (SELECT e.d1, e.d2, l.d1 IS NOT NULL AS caught
       |      FROM exact e LEFT JOIN lsh l ON e.d1 = l.d1 AND e.d2 = l.d2)
       |SELECT CAST(count(*) AS BIGINT) AS n_exact,
       |  CAST(count(*) FILTER (WHERE caught) AS BIGINT) AS n_caught,
       |  CASE WHEN count(*) = 0 THEN CAST(0 AS BIGINT)
       |       ELSE CAST(count(*) FILTER (WHERE caught) AS BIGINT) * 1000000
       |            // CAST(count(*) AS BIGINT) END AS recall_ppm
       |FROM j""".stripMargin

  /** txt_scrub_ngrams oracle: DuckDB twin of [[scrubFrequentNgrams]]
    * (1-based list indices; `range(i, i + n)` is DuckDB's half-open
    * form of Spark's inclusive `sequence(p, p + n - 1)`). */
  private[text] def scrubNgramsOracle(n: Int, maxDf: Int): String = {
    val gram1 = (0 until n)
      .map(j => if (j == 0) "toks[i]" else s"toks[i + $j]").mkString(", ' ', ")
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |g AS (SELECT doc_id, unnest(list_distinct(
       |    list_transform(range(1, len(toks) - ${n - 2}), i -> concat($gram1)))) AS gram
       |  FROM t WHERE len(toks) >= $n),
       |freq AS (SELECT gram FROM (
       |    SELECT gram, count(*) AS df FROM g GROUP BY gram) WHERE df > $maxDf),
       |pos AS (SELECT doc_id, i, concat($gram1) AS gram
       |  FROM t, LATERAL (SELECT unnest(range(1, greatest(len(toks) - ${n - 1}, 0) + 1)) AS i)),
       |hits AS (SELECT doc_id, list_distinct(flatten(list(span))) AS covered
       |  FROM (SELECT doc_id, range(i, i + $n) AS span FROM pos JOIN freq USING (gram))
       |  GROUP BY doc_id)
       |SELECT t.doc_id,
       |  CAST(len(t.toks) AS INT) AS n_tokens,
       |  CAST(coalesce(len(h.covered), 0) AS INT) AS n_removed,
       |  md5(coalesce(array_to_string(list_filter(t.toks,
       |    (x, j) -> NOT list_contains(coalesce(h.covered, CAST([] AS BIGINT[])), j)), ' '), '')) AS clean_hash
       |FROM t LEFT JOIN hits h USING (doc_id)""".stripMargin
  }

  /** dedup_substring oracle: DuckDB twin of [[exactSubstringDedup]] —
    * k-token windows by 1-based list slice, duplicated = window hash
    * seen ≥2 times corpus-wide, coverage the distinct union of
    * half-open `range(pos, pos + k)` spans (0-based positions, matching
    * Spark's posexplode; the list_filter index j is 1-based, hence
    * `j - 1`). */
  private[text] def substringDedupOracle(k: Int): String =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |w AS (SELECT doc_id, i - 1 AS pos,
       |        ${phashSql(s"array_to_string(toks[i:i+${k - 1}], ' ')")} AS h
       |      FROM t, LATERAL (SELECT unnest(range(1, greatest(len(toks) - ${k - 1}, 0) + 1)) AS i)),
       |dup AS (SELECT h FROM w GROUP BY h HAVING count(*) >= 2),
       |hits AS (SELECT doc_id, list_distinct(flatten(list(span))) AS covered
       |  FROM (SELECT doc_id, range(pos, pos + $k) AS span FROM w JOIN dup USING (h))
       |  GROUP BY doc_id)
       |SELECT t.doc_id,
       |  CAST(len(t.toks) AS INT) AS n_tokens,
       |  CAST(coalesce(len(h.covered), 0) AS INT) AS n_removed,
       |  CAST(coalesce(len(list_filter(h.covered,
       |    c -> NOT list_contains(h.covered, c - 1))), 0) AS INT) AS n_spans,
       |  md5(coalesce(array_to_string(list_filter(t.toks,
       |    (x, j) -> NOT list_contains(coalesce(h.covered, CAST([] AS BIGINT[])), j - 1)), ' '), '')) AS clean_hash
       |FROM t LEFT JOIN hits h USING (doc_id)""".stripMargin

  /** dedup_substring_keep oracle: the [[substringDedupOracle]] shape
    * with keep-one semantics — an occurrence is scrubbed iff its hash
    * repeats corpus-wide AND it is not the lexicographically-first
    * (doc_id, pos) occurrence (row_number twin of the Spark side's
    * min(struct) argmin). */
  private[text] def substringDedupKeepOracle(k: Int): String =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |w AS (SELECT doc_id, i - 1 AS pos,
       |        ${phashSql(s"array_to_string(toks[i:i+${k - 1}], ' ')")} AS h
       |      FROM t, LATERAL (SELECT unnest(range(1, greatest(len(toks) - ${k - 1}, 0) + 1)) AS i)),
       |d AS (SELECT doc_id, pos,
       |        count(*) OVER (PARTITION BY h) AS c,
       |        row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
       |      FROM w),
       |hits AS (SELECT doc_id, list_distinct(flatten(list(span))) AS covered
       |  FROM (SELECT doc_id, range(pos, pos + $k) AS span FROM d WHERE c >= 2 AND rn > 1)
       |  GROUP BY doc_id)
       |SELECT t.doc_id,
       |  CAST(len(t.toks) AS INT) AS n_tokens,
       |  CAST(coalesce(len(h.covered), 0) AS INT) AS n_removed,
       |  CAST(coalesce(len(list_filter(h.covered,
       |    c -> NOT list_contains(h.covered, c - 1))), 0) AS INT) AS n_spans,
       |  md5(coalesce(array_to_string(list_filter(t.toks,
       |    (x, j) -> NOT list_contains(coalesce(h.covered, CAST([] AS BIGINT[])), j - 1)), ' '), '')) AS clean_hash
       |FROM t LEFT JOIN hits h USING (doc_id)""".stripMargin

  /** dedup_substring_incr oracle: batch = odd docs, corpus index = the
    * distinct window hashes of even docs; a batch occurrence is
    * scrubbed iff its hash appears in the index. */
  private[text] def substringDedupIncrOracle(k: Int): String =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents
       |           WHERE doc_id % 2 = 1),
       |idx AS (SELECT DISTINCT ${phashSql(s"array_to_string(toks[i:i+${k - 1}], ' ')")} AS h
       |      FROM (SELECT string_split(text, ' ') AS toks FROM documents WHERE doc_id % 2 = 0),
       |           LATERAL (SELECT unnest(range(1, greatest(len(toks) - ${k - 1}, 0) + 1)) AS i)),
       |w AS (SELECT doc_id, i - 1 AS pos,
       |        ${phashSql(s"array_to_string(toks[i:i+${k - 1}], ' ')")} AS h
       |      FROM t, LATERAL (SELECT unnest(range(1, greatest(len(toks) - ${k - 1}, 0) + 1)) AS i)),
       |hits AS (SELECT doc_id, list_distinct(flatten(list(span))) AS covered
       |  FROM (SELECT doc_id, range(pos, pos + $k) AS span FROM w JOIN idx USING (h))
       |  GROUP BY doc_id)
       |SELECT t.doc_id,
       |  CAST(len(t.toks) AS INT) AS n_tokens,
       |  CAST(coalesce(len(h.covered), 0) AS INT) AS n_removed,
       |  CAST(coalesce(len(list_filter(h.covered,
       |    c -> NOT list_contains(h.covered, c - 1))), 0) AS INT) AS n_spans,
       |  md5(coalesce(array_to_string(list_filter(t.toks,
       |    (x, j) -> NOT list_contains(coalesce(h.covered, CAST([] AS BIGINT[])), j - 1)), ' '), '')) AS clean_hash
       |FROM t LEFT JOIN hits h USING (doc_id)""".stripMargin

  /** Shared SELECT tail of the character-granularity substring-dedup
    * oracles — the [[SpanDedup.scrub]] twin: covered char indices,
    * maximal-span count, md5 of the text with covered chars deleted.
    * Expects CTEs `t(doc_id, text)` and `hits(doc_id, covered)`. */
  private def charScrubSelectSql: String =
    """SELECT t.doc_id,
      |  CAST(length(t.text) AS INT) AS n_chars,
      |  CAST(coalesce(len(h.covered), 0) AS INT) AS n_removed,
      |  CAST(coalesce(len(list_filter(h.covered,
      |    c -> NOT list_contains(h.covered, c - 1))), 0) AS INT) AS n_spans,
      |  md5(coalesce(array_to_string(list_transform(list_filter(range(0, length(t.text)),
      |    j -> NOT list_contains(coalesce(h.covered, CAST([] AS BIGINT[])), j)),
      |    j -> substr(t.text, CAST(j + 1 AS INT), 1)), ''), '')) AS clean_hash
      |FROM t LEFT JOIN hits h USING (doc_id)""".stripMargin

  /** The L-char positional window CTE both char oracles derive from:
    * 0-based pos (matching Spark's posexplode), one window per
    * character offset. `src` must select (doc_id, text). */
  private def charWindowCteSql(L: Int, src: String = "SELECT doc_id, text FROM documents"): String =
    s"""t AS ($src),
       |w AS (SELECT doc_id, i AS pos,
       |        ${phashSql(s"substr(text, CAST(i + 1 AS INT), $L)")} AS h
       |      FROM t, LATERAL (SELECT unnest(range(0, greatest(length(text) - $L + 1, 0))) AS i))""".stripMargin

  /** dedup_substring_chars oracle: DuckDB twin of
    * [[exactSubstringDedupChars]] — L-char windows at EVERY character
    * offset, duplicated = window hash seen ≥2 times corpus-wide,
    * coverage the distinct union of half-open `range(pos, pos + L)`
    * char spans. */
  private[text] def substringCharsDedupOracle(L: Int): String =
    s"""WITH ${charWindowCteSql(L)},
       |dup AS (SELECT h FROM w GROUP BY h HAVING count(*) >= 2),
       |hits AS (SELECT doc_id, list_distinct(flatten(list(span))) AS covered
       |  FROM (SELECT doc_id, range(pos, pos + $L) AS span FROM w JOIN dup USING (h))
       |  GROUP BY doc_id)
       |$charScrubSelectSql""".stripMargin

  /** dedup_substring_chars_keep oracle: keep-one at char granularity —
    * scrubbed iff the hash repeats AND the occurrence is not the
    * lexicographically-first (doc_id, pos) (row_number twin of the
    * Spark min(struct) argmin). */
  private[text] def substringCharsDedupKeepOracle(L: Int): String =
    s"""WITH ${charWindowCteSql(L)},
       |d AS (SELECT doc_id, pos,
       |        count(*) OVER (PARTITION BY h) AS c,
       |        row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
       |      FROM w),
       |hits AS (SELECT doc_id, list_distinct(flatten(list(span))) AS covered
       |  FROM (SELECT doc_id, range(pos, pos + $L) AS span FROM d WHERE c >= 2 AND rn > 1)
       |  GROUP BY doc_id)
       |$charScrubSelectSql""".stripMargin

  /** dedup_substring_chars_incr oracle: batch = odd docs, corpus index
    * = the distinct L-char window hashes of even docs. */
  private[text] def substringCharsDedupIncrOracle(L: Int): String =
    s"""WITH ${charWindowCteSql(L, "SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1")},
       |idx AS (SELECT DISTINCT ${phashSql(s"substr(text, CAST(i + 1 AS INT), $L)")} AS h
       |      FROM (SELECT text FROM documents WHERE doc_id % 2 = 0),
       |           LATERAL (SELECT unnest(range(0, greatest(length(text) - $L + 1, 0))) AS i)),
       |hits AS (SELECT doc_id, list_distinct(flatten(list(span))) AS covered
       |  FROM (SELECT doc_id, range(pos, pos + $L) AS span FROM w JOIN idx USING (h))
       |  GROUP BY doc_id)
       |$charScrubSelectSql""".stripMargin

  /** Transitive closure of the LSH pair graph via recursive CTE (fine at
    * oracle scale; the Spark side is the O(log n) large-star/small-star
    * loop in ops.Components). Shared by dedup_components and dedup_keep. */
  private[text] def componentsOracleFor(src: String): String =
    s"""WITH RECURSIVE pairs AS (SELECT d1, d2 FROM (${lshPairsOracleFor(src)}) lsh),
       |nodes AS (SELECT d1 AS n FROM pairs UNION SELECT d2 FROM pairs),
       |edges AS (SELECT d1 AS a, d2 AS b FROM pairs
       |          UNION SELECT d2 AS a, d1 AS b FROM pairs),
       |reach(a, b) AS (
       |  SELECT n AS a, n AS b FROM nodes
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
       |SELECT a AS doc_id, CAST(min(b) AS BIGINT) AS component
       |FROM reach GROUP BY a""".stripMargin

  private[text] val componentsOracle: String = componentsOracleFor("documents")

  /** The dedup_keep oracle over any source: survivors = docs whose
    * cluster label (if any) is themselves; docs never paired have no
    * label row and survive. */
  private[text] def dedupKeepSqlFor(src: String): String =
    s"""WITH comp AS (${componentsOracleFor(src)})
       |SELECT d.doc_id, md5(d.text) AS content_hash
       |FROM $src d
       |LEFT JOIN comp c ON d.doc_id = c.doc_id
       |WHERE c.component IS NULL OR c.component = d.doc_id""".stripMargin

  /** The dedup_keep_best oracle: survivor = the longest doc of each
    * cluster, ties to the smaller doc_id (row_number is the DuckDB twin
    * of the Spark side's max_by over (metric, -doc_id)); docs never
    * paired have no label row and survive. */
  private[text] def dedupKeepBestSqlFor(src: String): String =
    s"""WITH comp AS (${componentsOracleFor(src)}),
       |labeled AS (
       |  SELECT d.doc_id, c.component, length(d.text) AS m
       |  FROM $src d JOIN comp c ON d.doc_id = c.doc_id),
       |surv AS (
       |  SELECT doc_id FROM (
       |    SELECT doc_id,
       |      row_number() OVER (PARTITION BY component ORDER BY m DESC, doc_id) AS rn
       |    FROM labeled) WHERE rn = 1)
       |SELECT d.doc_id, md5(d.text) AS content_hash
       |FROM $src d
       |LEFT JOIN comp c ON d.doc_id = c.doc_id
       |WHERE c.component IS NULL OR d.doc_id IN (SELECT doc_id FROM surv)""".stripMargin

  /** txt_repetition oracle, shared by the keep-flag twin. */
  private[text] val repetitionOracleSql: String = {
    val gram = (n: Int) => (0 until n)
      .map(j => if (j == 0) "toks[i]" else s"toks[i + $j]").mkString(", ' ', ")
    val cols = Seq(2, 3, 4).map { n =>
      s"""CASE WHEN len(toks) >= $n THEN
         |    CAST(len(g$n) - len(list_distinct(g$n)) AS DOUBLE) / len(g$n)
         |  ELSE 0.0 END AS dup_frac_$n""".stripMargin
    }.mkString(",\n")
    val grams = Seq(2, 3, 4).map { n =>
      s"list_transform(range(1, len(toks) - ${n - 2}), i -> concat(${gram(n)})) AS g$n"
    }.mkString(",\n  ")
    s"""SELECT doc_id,
       |$cols
       |FROM (SELECT doc_id, toks, $grams
       |      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents))""".stripMargin
  }

  /** corpus_clean: decontamination + quality predicate folded into ONE
    * source relation, then the dedup_keep chain over it. The quality
    * predicate mirrors [[qualityKeep]] defaults term for term. */
  /** Decontamination-survivor SELECT of the corpus_clean fixture split
    * (corpus = doc_id >= 10, bench = doc_id < 10) — shared by the
    * corpus_clean oracle and the funnel stage counts. */
  private[text] val cleanDeconSql: String = {
    val benchSrc = "(SELECT * FROM documents WHERE doc_id < 10)"
    s"""(SELECT d.* FROM documents d
       | WHERE d.doc_id >= 10
       |  AND d.doc_id NOT IN (
       |   SELECT DISTINCT c.doc_id
       |   FROM (${ngramShinglesSqlFor("(SELECT * FROM documents WHERE doc_id >= 10)", 5)}) c
       |   JOIN (SELECT DISTINCT shingle FROM (${ngramShinglesSqlFor(benchSrc, 5)})) b
       |     USING (shingle)))""".stripMargin
  }

  /** The Gopher/C4 quality predicate over alias `d` (oracle form). */
  private[text] val cleanQualitySql: String = {
    def toks(ref: String) = s"string_split($ref, ' ')"
    s"""len(${toks("d.text")}) >= 20
       | AND CAST(length(d.text) - (len(${toks("d.text")}) - 1) AS DOUBLE) / len(${toks("d.text")}) >= 3.0
       | AND CAST(length(d.text) - (len(${toks("d.text")}) - 1) AS DOUBLE) / len(${toks("d.text")}) <= 8.0
       | AND CAST(len(list_distinct(${toks("d.text")})) AS DOUBLE) / len(${toks("d.text")}) >= 0.35
       | AND len(list_filter(['the','a','of','and'], s -> list_contains(${toks("d.text")}, s))) >= 1""".stripMargin
  }

  /** Decon + quality survivors (corpus_clean's dedup input). */
  private[text] val cleanSrcSql: String =
    s"(SELECT d.* FROM $cleanDeconSql d WHERE $cleanQualitySql)"

  private[text] val corpusCleanOracle: String = dedupKeepSqlFor(cleanSrcSql)

  /** dedup_incremental oracle: the same band join + candidate-only
    * verification + best-match ranking, over the parity split. */
  private[text] val incrementalOracle: String = {
    val batchSrc = "(SELECT * FROM documents WHERE doc_id % 2 = 1)"
    val corpusSrc = "(SELECT * FROM documents WHERE doc_id % 2 = 0)"
    s"""WITH bb AS (${bandsSqlFor(batchSrc)}),
       |cb AS (${bandsSqlFor(corpusSrc)}),
       |cand AS (
       |  SELECT DISTINCT b.doc_id AS batch_id, c.doc_id AS corpus_id
       |  FROM bb b JOIN cb c ON b.band = c.band AND b.sig = c.sig),
       |shb AS (${shinglesSqlFor(batchSrc)}),
       |shc AS (${shinglesSqlFor(corpusSrc)}),
       |nb AS (SELECT doc_id, count(*) AS n FROM shb GROUP BY doc_id),
       |nc AS (SELECT doc_id, count(*) AS n FROM shc GROUP BY doc_id),
       |inter AS (
       |  SELECT cd.batch_id, cd.corpus_id, count(*) AS inter
       |  FROM cand cd
       |  JOIN shb s1 ON cd.batch_id = s1.doc_id
       |  JOIN shc s2 ON cd.corpus_id = s2.doc_id AND s1.shingle = s2.shingle
       |  GROUP BY 1, 2),
       |scored AS (
       |  SELECT cd.batch_id, cd.corpus_id,
       |    CAST(coalesce(i.inter, 0) AS DOUBLE) / (n1.n + n2.n - coalesce(i.inter, 0)) AS jaccard
       |  FROM cand cd
       |  LEFT JOIN inter i ON cd.batch_id = i.batch_id AND cd.corpus_id = i.corpus_id
       |  JOIN nb n1 ON cd.batch_id = n1.doc_id
       |  JOIN nc n2 ON cd.corpus_id = n2.doc_id
       |  WHERE CAST(coalesce(i.inter, 0) AS DOUBLE) / (n1.n + n2.n - coalesce(i.inter, 0)) >= 0.5),
       |ranked AS (
       |  SELECT batch_id, corpus_id, jaccard,
       |    row_number() OVER (PARTITION BY batch_id ORDER BY jaccard DESC, corpus_id) AS rn
       |  FROM scored)
       |SELECT batch_id, corpus_id AS dup_of, jaccard FROM ranked WHERE rn = 1""".stripMargin
  }

  /** The DSIR importance-weight SQL (target = lang 'en'), shared by the
    * dsir_weights oracle and the top-k oracle built on top of it.
    * Mirrors [[dsirWeights]] term for term: hashed unigram+bigram
    * buckets (B = 4096), add-one smoothing, raw-side bucket spine. */
  private[text] val dsirWeightsSql: String = {
    val b = 4096
    s"""WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
       |g AS (SELECT doc_id, lang, unnest(list_concat(toks,
       |        list_transform(range(1, len(toks)), i -> concat(toks[i], ' ', toks[i + 1])))) AS gram
       |      FROM t),
       |bk AS (SELECT doc_id, lang, ${phashSql("gram")} % $b AS bucket FROM g),
       |cr AS (SELECT bucket, count(*) AS cr FROM bk GROUP BY bucket),
       |ct AS (SELECT bucket, count(*) AS ct FROM bk WHERE lang = 'en' GROUP BY bucket),
       |tr AS (SELECT CAST(sum(2 * len(string_split(text, ' ')) - 1) AS DOUBLE) AS tr FROM documents),
       |tt AS (SELECT CAST(sum(2 * len(string_split(text, ' ')) - 1) AS DOUBLE) AS tt
       |       FROM documents WHERE lang = 'en'),
       |r AS (SELECT bucket,
       |        ln((coalesce(ct, 0) + 1.0) / (tt + $b)) - ln((cr + 1.0) / (tr + $b)) AS ratio
       |      FROM cr LEFT JOIN ct USING (bucket) CROSS JOIN tt CROSS JOIN tr)
       |SELECT bk.doc_id, CAST(count(*) AS BIGINT) AS n_grams, round(sum(r.ratio), 6) AS logw
       |FROM bk JOIN r USING (bucket)
       |GROUP BY bk.doc_id""".stripMargin
  }

  /** The unigram-LM scoring SQL, shared by the txt_unigram_lm oracle
    * and the perplexity-bucket oracle built on top of it. */
  private[text] val unigramLmSql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      |cnt AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok),
      |tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS tot FROM cnt)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
      |  round(avg(-ln(cnt.cnt / tot.tot)), 6) AS nll
      |FROM toks JOIN cnt USING (tok) CROSS JOIN tot
      |GROUP BY doc_id""".stripMargin

  /** bpe_encode oracle, rendered from the merge table the query just
    * learned (absent until the query runs — the Ivf.cachedCentroids
    * pattern): each word becomes a symbol string with DOUBLED-space
    * delimiters `'  c  h  a  r  s  </w>  '`, each merge is a
    * left-to-right non-overlapping `replace(' l  r ' → ' lr ')` —
    * string replace's scan order IS BPE's greedy merge order, and the
    * doubled delimiter means adjacent occurrences (`a b a b` under
    * merge (a,b)) don't share a boundary space: each match consumes one
    * space from each flanking pair, the single-space replacement
    * restores it, so ALL non-overlapping occurrences merge exactly like
    * the engine's [[mergePairExpr]] fold. A single-space oracle merges
    * only the first of two adjacent occurrences (`replace(' a b a b ',
    * ' a b ', ' ab ')` = `' ab a b '`) and wrongly diverges. The doubled
    * spaces collapse back to single just before the final trim. */
  /** The merge-fold encode SQL over an arbitrary (doc_id, text) source
    * relation — shared by the bpe_encode oracle (src = documents) and
    * the composed corpus_tokenize oracle (src = cleaned survivors). */
  private[text] def bpeEncodeSqlFor(merges: Seq[(Int, String, String)], src: String): String = {
    def q(s: String) = s.replace("'", "''")
    val applied = merges.sortBy(_._1)
      .foldLeft("concat('  ', regexp_replace(word, '(.)', '\\1  ', 'g'), '</w>  ')") {
        case (acc, (_, l, r)) => s"replace($acc, ' ${q(l)}  ${q(r)} ', ' ${q(l + r)} ')"
      }
    s"""WITH w AS (
       |  SELECT doc_id, i AS pos, toks[i] AS word
       |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM $src tsrc),
       |       LATERAL (SELECT unnest(range(1, len(toks) + 1)) AS i)),
       |enc AS (SELECT word, trim(replace($applied, '  ', ' ')) AS encoded
       |        FROM (SELECT DISTINCT word FROM w) v WHERE length(word) >= 1)
       |SELECT doc_id,
       |  CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(len(string_split(encoded, ' '))) AS BIGINT) AS n_tokens,
       |  md5(string_agg(encoded, ' ' ORDER BY pos)) AS stream_hash
       |FROM w JOIN enc USING (word)
       |GROUP BY doc_id""".stripMargin
  }

  private[text] def bpeEncodeOracles: Map[String, String] = cachedMerges match {
    case None => Map.empty
    case Some(merges) =>
      Map("bpe_encode" -> bpeEncodeSqlFor(merges, "documents"))
  }

  /** tok_fertility oracle: the merge-fold encode aggregated per
    * language (exact integer sums; DuckDB sums promote to HUGEINT,
    * hence the explicit BIGINT casts). */
  private[text] def fertilityOracles: Map[String, String] = cachedFertilityMerges match {
    case None => Map.empty
    case Some(merges) =>
      val enc = bpeEncodeSqlFor(merges, "documents")
      Map("tok_fertility" ->
        s"""SELECT d.lang,
           |  CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(sum(e.n_words) AS BIGINT) AS n_words,
           |  CAST(sum(e.n_tokens) AS BIGINT) AS n_tokens,
           |  CAST(sum(e.n_tokens) AS DOUBLE) / CAST(sum(e.n_words) AS DOUBLE) AS fertility,
           |  CAST(sum(length(d.text)) AS DOUBLE) / CAST(sum(e.n_tokens) AS DOUBLE) AS chars_per_token
           |FROM documents d JOIN ($enc) e USING (doc_id)
           |GROUP BY d.lang""".stripMargin)
  }

  /** corpus_tokenize oracle: the corpus_clean survivor set feeds the
    * merge-fold encode (over the merges THIS run learned on the
    * survivors), whose per-doc n_tokens feed the txt_pack cumsum — the
    * three stage oracles composed verbatim, so DuckDB verifies the
    * end-to-end chunk layout, not just the stages. */
  private[text] def corpusTokenizeOracles: Map[String, String] = cachedTokenizeMerges match {
    case None => Map.empty
    case Some(merges) =>
      val cleanedSrc =
        s"""(SELECT d.doc_id, d.text FROM documents d
           | JOIN (SELECT doc_id FROM ($corpusCleanOracle) cc) surv USING (doc_id))""".stripMargin
      val enc = bpeEncodeSqlFor(merges, cleanedSrc)
      Map("corpus_tokenize" ->
        s"""WITH t AS (SELECT doc_id, CAST(n_tokens AS BIGINT) AS n FROM ($enc) e),
           |c AS (SELECT doc_id, n,
           |  CAST(sum(n) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM t),
           |s AS (SELECT doc_id, n, cum, cum - n AS start FROM c),
           |x AS (SELECT doc_id, n, cum, start,
           |  unnest(range(start // 512, (cum - 1) // 512 + 1)) AS chunk_id FROM s)
           |SELECT chunk_id, doc_id,
           |  greatest(start, chunk_id * 512) - start AS off_start,
           |  least(cum, (chunk_id + 1) * 512) - greatest(start, chunk_id * 512) AS off_len
           |FROM x""".stripMargin)
  }

  /** Static oracles plus the runtime-learned BPE-encode oracle — a def
    * so Verify (which runs queries before dumping oracle SQL) sees the
    * merge literals the encode query actually used. */
  /** unigram_encode oracle, rendered from the piece table the query
    * just learned (the [[cachedMerges]] pattern): DuckDB replays the
    * Viterbi DP from the same (piece, logp) literals. */
  private[text] def unigramEncodeOracles: Map[String, String] =
    UnigramLm.cachedPieces match {
      case None         => Map.empty
      case Some(pieces) =>
        Map("unigram_encode" -> UnigramLm.encodeOracleSql(pieces, maxPieceLen = 5))
    }

  /** wordpiece_encode oracle from the vocabulary the query just learned
    * (same cached-literal pattern). */
  private[text] def wordpieceEncodeOracles: Map[String, String] =
    WordPiece.cachedVocab match {
      case None        => Map.empty
      case Some(vocab) =>
        Map("wordpiece_encode" -> WordPiece.encodeOracleSql(vocab))
    }

  def oracles: Map[String, String] =
    staticOracles ++ bpeEncodeOracles ++ fertilityOracles ++
      unigramEncodeOracles ++ wordpieceEncodeOracles ++
      corpusTokenizeOracles ++ tempMixOracles ++ tokenMixOracles ++ qcOracles ++
      outlierOracles

  /** quality_outliers oracle from the driver-computed fence literals
    * (absent until the query runs). */
  private[text] def outlierOracles: Map[String, String] = cachedOutlierFences match {
    case None => Map.empty
    case Some((tl, th, wl, wh)) =>
      Map("quality_outliers" ->
        s"""WITH s AS (SELECT doc_id,
           |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           |  round(CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
           |    / len(string_split(text, ' ')), 6) AS mean_word_len
           |FROM documents)
           |SELECT doc_id, n_tokens, mean_word_len,
           |  (n_tokens < $tl OR n_tokens > $th) AS len_outlier,
           |  (mean_word_len < $wl OR mean_word_len > $wh) AS wl_outlier,
           |  (NOT (n_tokens < $tl OR n_tokens > $th)
           |   AND NOT (mean_word_len < $wl OR mean_word_len > $wh)) AS kept
           |FROM s""".stripMargin)
  }

  private[text] val staticOracles: Map[String, String] = Map(
    "dedup_incremental" -> incrementalOracle,

    "corpus_split" ->
      s"""SELECT doc_id,
         |  CASE WHEN h < 980000 THEN 'train'
         |       WHEN h < 990000 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM (SELECT doc_id,
         |        ${phashSql("concat('split_', CAST(doc_id AS VARCHAR))")} % 1000000 AS h
         |      FROM documents)""".stripMargin,

    "corpus_shuffle" ->
      s"""WITH h AS (SELECT doc_id,
         |  ${phashSql("concat('epoch1_', CAST(doc_id AS VARCHAR))")} AS h FROM documents),
         |r AS (SELECT doc_id, row_number() OVER (ORDER BY h, doc_id) - 1 AS rk FROM h)
         |SELECT doc_id, CAST(rk % 64 AS BIGINT) AS shard,
         |  CAST(rk // 64 AS BIGINT) AS pos FROM r""".stripMargin,

    // the window form IS the reference semantics; the engine computes
    // the same order statistic via driver cutoffs (no per-stratum
    // window in its plan)
    "corpus_sample_k" ->
      s"""WITH r AS (SELECT doc_id, source,
         |  row_number() OVER (PARTITION BY source
         |    ORDER BY ${phashSql("concat('topk_', CAST(doc_id AS VARCHAR))")}, doc_id) AS rn
         |FROM documents)
         |SELECT doc_id, source FROM r WHERE rn <= 7""".stripMargin,

    "source_stats" ->
      """WITH t AS (SELECT source, text, string_split(text, ' ') AS toks FROM documents),
        |m AS (SELECT source,
        |  CAST(len(toks) >= 20 AND (CAST(length(text) - (len(toks) - 1) AS DOUBLE) / len(toks)) BETWEEN 3.0 AND 8.0
        |    AND CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) >= 0.35
        |    AND len(list_filter(['the','a','of','and'], s -> list_contains(toks, s))) >= 1 AS INT) AS keep,
        |  CAST(len(toks) AS BIGINT) AS n_tokens, md5(text) AS content_hash FROM t)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
        |  round(avg(keep), 6) AS keep_rate,
        |  round((count(*) - count(DISTINCT content_hash)) / CAST(count(*) AS DOUBLE), 6) AS dup_rate
        |FROM m GROUP BY source""".stripMargin,

    "source_filter" ->
      """WITH t AS (SELECT doc_id, source, text, string_split(text, ' ') AS toks FROM documents),
        |m AS (SELECT doc_id, source,
        |  CAST(len(toks) >= 20 AND (CAST(length(text) - (len(toks) - 1) AS DOUBLE) / len(toks)) BETWEEN 3.0 AND 8.0
        |    AND CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) >= 0.35
        |    AND len(list_filter(['the','a','of','and'], s -> list_contains(toks, s))) >= 1 AS INT) AS keep,
        |  md5(text) AS content_hash FROM t),
        |st AS (SELECT source, round(avg(keep), 6) AS keep_rate,
        |  round((count(*) - count(DISTINCT content_hash)) / CAST(count(*) AS DOUBLE), 6) AS dup_rate
        |  FROM m GROUP BY source),
        |bad AS (SELECT source FROM st WHERE keep_rate < 0.55 OR dup_rate > 0.5)
        |SELECT doc_id, source FROM m WHERE source NOT IN (SELECT source FROM bad)""".stripMargin,

    "txt_bigram_lm" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |uc AS (SELECT tok, count(*) AS ucnt
        |       FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents) GROUP BY tok),
        |tot AS (SELECT CAST(sum(len(string_split(text, ' '))) AS DOUBLE) AS tot FROM documents),
        |bg AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
        |                i -> concat(toks[i], ' ', toks[i + 1]))) AS bg
        |       FROM t WHERE len(toks) >= 2),
        |bc AS (SELECT bg, count(*) AS bcnt FROM bg GROUP BY bg),
        |bp AS (SELECT bc.bg, bc.bcnt, uc.ucnt AS lcnt
        |       FROM bc JOIN uc ON string_split(bc.bg, ' ')[1] = uc.tok)
        |SELECT bg.doc_id, CAST(count(*) AS BIGINT) AS n_transitions,
        |  round(avg(-ln(CASE WHEN bp.bcnt IS NOT NULL
        |                     THEN CAST(bp.bcnt AS DOUBLE) / bp.lcnt
        |                     ELSE 0.4 * coalesce(r.ucnt, 0.5) / tot.tot END)), 6) AS nll2
        |FROM bg
        |LEFT JOIN bp USING (bg)
        |LEFT JOIN uc r ON string_split(bg.bg, ' ')[2] = r.tok
        |CROSS JOIN tot
        |GROUP BY bg.doc_id""".stripMargin,

    "txt_kn_lm" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |allg AS (SELECT unnest(list_transform(range(1, len(toks)),
        |                 i -> concat(toks[i], ' ', toks[i + 1]))) AS bg FROM t),
        |g AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
        |              i -> concat(toks[i], ' ', toks[i + 1]))) AS bg
        |      FROM t WHERE len(toks) >= 2),
        |bc AS (SELECT bg, count(*) AS bcnt FROM allg GROUP BY bg),
        |lc AS (SELECT string_split(bg, ' ')[1] AS lw, count(*) AS lcnt FROM allg GROUP BY 1),
        |pairs AS (SELECT DISTINCT string_split(bg, ' ')[1] AS lw, string_split(bg, ' ')[2] AS rw
        |          FROM allg),
        |cl AS (SELECT lw, count(*) AS cont_l FROM pairs GROUP BY lw),
        |cr2 AS (SELECT rw, count(*) AS cont_r FROM pairs GROUP BY rw),
        |ty AS (SELECT CAST(count(*) AS DOUBLE) AS n_types FROM (SELECT DISTINCT bg FROM allg)),
        |lt AS (SELECT lc.lw, lc.lcnt, coalesce(cl.cont_l, 0) AS cont_l
        |       FROM lc LEFT JOIN cl USING (lw))
        |SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_transitions,
        |  round(avg(-ln(
        |    greatest(coalesce(bc.bcnt, 0) - 0.75, 0.0) / lt.lcnt
        |    + 0.75 * lt.cont_l / lt.lcnt * (coalesce(cr2.cont_r, 0.5) / ty.n_types))), 6) AS nll_kn
        |FROM g
        |LEFT JOIN bc USING (bg)
        |JOIN lt ON string_split(g.bg, ' ')[1] = lt.lw
        |LEFT JOIN cr2 ON string_split(g.bg, ' ')[2] = cr2.rw
        |CROSS JOIN ty
        |GROUP BY g.doc_id""".stripMargin,

    // order-n interpolated KN: every model table derives from the ONE
    // n-gram count table; the oracle SQL is generated by the same loop
    // structure as the engine derivation (unpruned at oracle scale, so
    // the lambda-1 pruning arms are dead here — spec-pinned instead)
    "txt_kn_lm_3" -> knOracleSql(3),
    "txt_kn_lm_5" -> knOracleSql(5),

    "txt_dup_coverage" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |g AS (SELECT doc_id, i AS pos, concat(toks[i], ' ', toks[i + 1], ' ', toks[i + 2]) AS gram
        |      FROM t, LATERAL (SELECT unnest(range(1, len(toks) - 1)) AS i)),
        |d AS (SELECT doc_id, gram FROM g GROUP BY doc_id, gram HAVING count(*) >= 2),
        |cov AS (SELECT DISTINCT g.doc_id, u.idx
        |        FROM g JOIN d USING (doc_id, gram),
        |             LATERAL (SELECT unnest(range(g.pos, g.pos + 3)) AS idx) u),
        |cchars AS (SELECT cov.doc_id, sum(length(t.toks[cov.idx])) AS cc
        |           FROM cov JOIN t USING (doc_id) GROUP BY cov.doc_id)
        |SELECT t.doc_id, CAST(len(t.toks) AS INT) AS n_tokens,
        |  round(coalesce(cchars.cc, 0) /
        |        CAST(length(d2.text) - (len(t.toks) - 1) AS DOUBLE), 6) AS dup_char_frac
        |FROM t JOIN documents d2 USING (doc_id)
        |LEFT JOIN cchars USING (doc_id)""".stripMargin,

    "txt_entropy" ->
      """WITH c AS (
        |  SELECT doc_id, tok, count(*) AS c
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
        |  GROUP BY doc_id, tok)
        |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |  round(ln(CAST(sum(c) AS DOUBLE)) -
        |        sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) / sum(c), 6) AS entropy
        |FROM c GROUP BY doc_id""".stripMargin,

    "dsir_weights" -> dsirWeightsSql,
    "dsir_topk" ->
      s"""SELECT * FROM ($dsirWeightsSql)
         |ORDER BY logw DESC, doc_id LIMIT 200""".stripMargin,

    "txt_decontaminate" -> {
      val benchSrc = "(SELECT * FROM documents WHERE doc_id < 10)"
      val corpusSrc = "(SELECT * FROM documents WHERE doc_id >= 10)"
      s"""WITH bsh AS (SELECT DISTINCT shingle FROM (${ngramShinglesSqlFor(benchSrc, 5)})),
         |csh AS (${ngramShinglesSqlFor(corpusSrc, 5)}),
         |bad AS (SELECT DISTINCT doc_id FROM csh JOIN bsh USING (shingle))
         |SELECT d.doc_id, md5(d.text) AS content_hash
         |FROM documents d
         |WHERE d.doc_id >= 10 AND d.doc_id NOT IN (SELECT doc_id FROM bad)""".stripMargin
    },

    "txt_contain_frac" -> {
      val benchSrc = "(SELECT * FROM documents WHERE doc_id < 10)"
      val corpusSrc = "(SELECT * FROM documents WHERE doc_id >= 10)"
      s"""WITH bsh AS (SELECT DISTINCT shingle FROM (${ngramShinglesSqlFor(benchSrc, 5)})),
         |csh AS (${ngramShinglesSqlFor(corpusSrc, 5)})
         |SELECT c.doc_id,
         |  CAST(count(*) AS BIGINT) AS n_shingles,
         |  CAST(sum(CASE WHEN b.shingle IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_contaminated,
         |  round(CAST(sum(CASE WHEN b.shingle IS NULL THEN 0 ELSE 1 END) AS DOUBLE)
         |        / count(*), 6) AS contain_frac
         |FROM csh c LEFT JOIN bsh b ON c.shingle = b.shingle
         |GROUP BY c.doc_id""".stripMargin
    },

    "txt_signals" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |g AS (SELECT doc_id, tok, count(*) AS c FROM t GROUP BY doc_id, tok)
        |SELECT doc_id,
        |  CAST(sum(c) AS BIGINT) AS n_tokens,
        |  CAST(count(*) AS BIGINT) AS n_distinct,
        |  round(CAST(count(*) AS DOUBLE) / sum(c), 6) AS frac_distinct,
        |  round(CAST(sum(length(tok) * c) AS DOUBLE) / sum(c), 6) AS mean_word_len,
        |  CAST(sum(CASE WHEN tok IN ('the', 'a', 'of', 'and') THEN 1 ELSE 0 END) AS INT) AS stop_distinct,
        |  round(ln(CAST(sum(c) AS DOUBLE)) - sum(c * ln(CAST(c AS DOUBLE))) / sum(c), 6) AS entropy
        |FROM g GROUP BY doc_id""".stripMargin,

    "txt_winnow" ->
      s"""WITH $winnowFpsOracleCtes
         |SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
         |  CAST(len(fps) AS BIGINT) AS n_fingerprints,
         |  md5(array_to_string(list_transform(list_sort(fps), x -> CAST(x AS VARCHAR)), ' ')) AS fp_hash
         |FROM f""".stripMargin,

    "dedup_winnow_incr" ->
      s"""WITH $winnowFpsOracleCtes,
         |bx AS (SELECT doc_id AS batch_id, len(fps) AS n_fps, unnest(fps) AS fp
         |       FROM f WHERE doc_id % 2 = 1),
         |cx AS (SELECT doc_id AS dup_of, unnest(fps) AS fp
         |       FROM f WHERE doc_id % 2 = 0),
         |m AS (SELECT batch_id, dup_of, max(n_fps) AS n_fps, count(*) AS n_shared
         |      FROM bx JOIN cx USING (fp) GROUP BY batch_id, dup_of),
         |r AS (SELECT batch_id, dup_of, n_shared, n_fps,
         |        row_number() OVER (PARTITION BY batch_id ORDER BY n_shared DESC, dup_of) AS rn
         |      FROM m)
         |SELECT batch_id, dup_of, CAST(n_shared AS BIGINT) AS n_shared,
         |  CAST(n_fps AS BIGINT) AS n_fps
         |FROM r WHERE rn = 1""".stripMargin,

    "dedup_editdist_incr" ->
      s"""WITH $winnowFpsOracleCtes,
         |bx AS (SELECT doc_id AS batch_id, len(fps) AS n_fps, unnest(fps) AS fp
         |       FROM f WHERE doc_id % 2 = 1),
         |cx AS (SELECT doc_id AS dup_of, unnest(fps) AS fp
         |       FROM f WHERE doc_id % 2 = 0),
         |m AS (SELECT batch_id, dup_of, count(*) AS n_shared
         |      FROM bx JOIN cx USING (fp) GROUP BY batch_id, dup_of),
         |r AS (SELECT batch_id, dup_of, n_shared,
         |        row_number() OVER (PARTITION BY batch_id ORDER BY n_shared DESC, dup_of) AS rn
         |      FROM m),
         |v AS (SELECT b.batch_id, b.dup_of, CAST(b.n_shared AS BIGINT) AS n_shared,
         |        CAST(levenshtein(x.text, y.text) AS BIGINT) AS dist,
         |        CAST(greatest(length(x.text), length(y.text)) AS BIGINT) AS max_len
         |      FROM r b JOIN documents x ON b.batch_id = x.doc_id
         |               JOIN documents y ON b.dup_of = y.doc_id
         |      WHERE b.rn = 1)
         |SELECT batch_id, dup_of, n_shared, dist,
         |  CASE WHEN max_len = 0 THEN CAST(1000000 AS BIGINT)
         |       ELSE (max_len - dist) * 1000000 // max_len END AS sim_ppm
         |FROM v
         |WHERE (CASE WHEN max_len = 0 THEN 1000000
         |            ELSE (max_len - dist) * 1000000 // max_len END) >= 500000""".stripMargin,

    // the matches variant: same candidate and verification algebra,
    // minShared >= 2 then the top-8 strongest candidates per batch doc
    // (n_shared desc, dup_of asc — the query's production knobs)
    "dedup_editdist_matches" ->
      s"""WITH $winnowFpsOracleCtes,
         |bx AS (SELECT doc_id AS batch_id, unnest(fps) AS fp
         |       FROM f WHERE doc_id % 2 = 1),
         |cx AS (SELECT doc_id AS dup_of, unnest(fps) AS fp
         |       FROM f WHERE doc_id % 2 = 0),
         |m AS (SELECT batch_id, dup_of, count(*) AS n_shared
         |      FROM bx JOIN cx USING (fp) GROUP BY batch_id, dup_of
         |      HAVING count(*) >= 2),
         |r AS (SELECT batch_id, dup_of, n_shared,
         |        row_number() OVER (PARTITION BY batch_id
         |          ORDER BY n_shared DESC, dup_of) AS rn
         |      FROM m),
         |v AS (SELECT b.batch_id, b.dup_of, CAST(b.n_shared AS BIGINT) AS n_shared,
         |        CAST(levenshtein(x.text, y.text) AS BIGINT) AS dist,
         |        CAST(greatest(length(x.text), length(y.text)) AS BIGINT) AS max_len
         |      FROM r b JOIN documents x ON b.batch_id = x.doc_id
         |               JOIN documents y ON b.dup_of = y.doc_id
         |      WHERE b.rn <= 8)
         |SELECT batch_id, dup_of, n_shared, dist,
         |  CASE WHEN max_len = 0 THEN CAST(1000000 AS BIGINT)
         |       ELSE (max_len - dist) * 1000000 // max_len END AS sim_ppm
         |FROM v
         |WHERE (CASE WHEN max_len = 0 THEN 1000000
         |            ELSE (max_len - dist) * 1000000 // max_len END) >= 500000""".stripMargin,

    // the df-capped twin: corpus fingerprints with document frequency
    // > 1 are dropped BEFORE the candidate join (the index-side
    // stop-fingerprint contract at its most aggressive setting — only
    // fingerprints unique to one corpus doc remain; the query comment
    // explains why this corpus needs the cap below its df 2-15
    // collision band), then the recall-first consumer defaults
    // (minShared=1, no per-doc cap) verify every candidate
    "dedup_editdist_dfcap" ->
      s"""WITH $winnowFpsOracleCtes,
         |bx AS (SELECT doc_id AS batch_id, unnest(fps) AS fp
         |       FROM f WHERE doc_id % 2 = 1),
         |cx0 AS (SELECT doc_id AS dup_of, unnest(fps) AS fp
         |        FROM f WHERE doc_id % 2 = 0),
         |stop AS (SELECT fp FROM (
         |    SELECT fp, count(*) AS df FROM cx0 GROUP BY fp) WHERE df > 1),
         |cx AS (SELECT * FROM cx0 WHERE fp NOT IN (SELECT fp FROM stop)),
         |m AS (SELECT batch_id, dup_of, count(*) AS n_shared
         |      FROM bx JOIN cx USING (fp) GROUP BY batch_id, dup_of),
         |v AS (SELECT m.batch_id, m.dup_of, CAST(m.n_shared AS BIGINT) AS n_shared,
         |        CAST(levenshtein(x.text, y.text) AS BIGINT) AS dist,
         |        CAST(greatest(length(x.text), length(y.text)) AS BIGINT) AS max_len
         |      FROM m JOIN documents x ON m.batch_id = x.doc_id
         |             JOIN documents y ON m.dup_of = y.doc_id)
         |SELECT batch_id, dup_of, n_shared, dist,
         |  CASE WHEN max_len = 0 THEN CAST(1000000 AS BIGINT)
         |       ELSE (max_len - dist) * 1000000 // max_len END AS sim_ppm
         |FROM v
         |WHERE (CASE WHEN max_len = 0 THEN 1000000
         |            ELSE (max_len - dist) * 1000000 // max_len END) >= 500000""".stripMargin,

    "txt_normalize" ->
      """WITH n AS (SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS norm
        |FROM documents)
        |SELECT doc_id,
        |  CAST(CASE WHEN length(norm) = 0 THEN 0
        |       ELSE len(string_split(norm, ' ')) END AS BIGINT) AS n_tokens_norm,
        |  md5(norm) AS norm_hash
        |FROM n""".stripMargin,

    // position scan, not replace-counting: the automaton counts
    // OVERLAPPING occurrences ('a a' in 'a a a' = 2) and replace would
    // merge them (the bpe_encode-oracle lesson)
    "txt_blocklist" ->
      """WITH p AS (SELECT unnest(['dup', 'slow query', 'big data', 'a a']) AS ph),
        |t AS (SELECT doc_id, lower(text) AS tl FROM documents),
        |m AS (SELECT doc_id, ph,
        |        len(list_filter(range(1, len(tl) - len(ph) + 2),
        |          i -> substr(tl, CAST(i AS INT), len(ph)) = ph)) AS c
        |      FROM t, p)
        |SELECT doc_id,
        |  CAST(sum(c) AS INT) AS n_hits,
        |  CAST(sum(CASE WHEN c > 0 THEN 1 ELSE 0 END) AS INT) AS n_phrases_hit,
        |  (sum(c) = 0) AS kept
        |FROM m GROUP BY doc_id""".stripMargin,

    // the span oracle addresses code points in the lowercased text —
    // DuckDB substr/len and the automaton's lead-byte counting agree
    "txt_blocklist_spans" ->
      """WITH p AS (SELECT unnest(['dup', 'slow query', 'big data', 'a a']) AS ph),
        |t AS (SELECT doc_id, lower(text) AS tl FROM documents),
        |m AS (SELECT doc_id, ph,
        |        unnest(list_filter(range(1, len(tl) - len(ph) + 2),
        |          i -> substr(tl, CAST(i AS INT), len(ph)) = ph)) AS pos
        |      FROM t, p)
        |SELECT doc_id, ph AS phrase, CAST(pos AS INT) AS pos FROM m""".stripMargin,

    // redaction replayed positionally: covered code points from the
    // span scan, runs detected via lag, one placeholder per run start
    "txt_blocklist_redact" ->
      """WITH p AS (SELECT unnest(['dup', 'slow query', 'big data', 'a a']) AS ph),
        |t AS (SELECT doc_id, lower(text) AS tl FROM documents),
        |m AS (SELECT doc_id, ph,
        |        unnest(list_filter(range(1, len(tl) - len(ph) + 2),
        |          i -> substr(tl, CAST(i AS INT), len(ph)) = ph)) AS pos
        |      FROM t, p),
        |cov AS (SELECT DISTINCT doc_id, pos + u AS cp
        |        FROM (SELECT doc_id, pos, unnest(range(0, len(ph))) AS u FROM m)),
        |c AS (SELECT doc_id, unnest(range(1, len(tl) + 1)) AS i, tl FROM t),
        |g AS (SELECT c.doc_id, c.i,
        |        substr(c.tl, CAST(c.i AS INT), 1) AS ch,
        |        cov.cp IS NOT NULL AS covd
        |      FROM c LEFT JOIN cov ON c.doc_id = cov.doc_id AND c.i = cov.cp),
        |r AS (SELECT doc_id, i, ch, covd,
        |        lag(covd, 1, false) OVER (PARTITION BY doc_id ORDER BY i) AS pcovd
        |      FROM g),
        |agg AS (SELECT doc_id,
        |        string_agg(CASE WHEN covd AND NOT pcovd THEN '<blocked>'
        |                        WHEN covd THEN ''
        |                        ELSE ch END, '' ORDER BY i) AS clean_text
        |      FROM r GROUP BY doc_id)
        |SELECT t.doc_id, coalesce(agg.clean_text, '') AS clean_text
        |FROM t LEFT JOIN agg ON t.doc_id = agg.doc_id""".stripMargin,

    "dedup_winnow_pairs" -> {
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |h AS (SELECT doc_id, list_transform(
         |        list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
         |          i -> concat(toks[i], ' ', toks[i + 1], ' ', toks[i + 2])),
         |        g -> ${phashSql("g")}) AS hashes
         |      FROM t),
         |f AS (SELECT doc_id, unnest(
         |        CASE WHEN len(hashes) = 0 THEN CAST([] AS BIGINT[])
         |        ELSE list_distinct(list_transform(
         |          range(1, greatest(len(hashes) - 3, 1) + 1),
         |          i -> list_min(list_slice(hashes, CAST(i AS INT), CAST(i + 3 AS INT))))) END) AS fp
         |      FROM h)
         |SELECT a.doc_id AS d1, b.doc_id AS d2, CAST(count(*) AS BIGINT) AS n_shared
         |FROM f a JOIN f b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |GROUP BY a.doc_id, b.doc_id
         |HAVING count(*) >= 2""".stripMargin
    },

    "txt_chunk" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |c AS (SELECT doc_id, j AS chunk_id,
        |        list_slice(toks, CAST(j * 48 + 1 AS INT), CAST(j * 48 + 64 AS INT)) AS chunk
        |      FROM t, LATERAL (SELECT unnest(range(0,
        |        (greatest(len(toks) - 64, 0) + 47) // 48 + 1)) AS j))
        |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
        |  CAST(len(chunk) AS BIGINT) AS n_tokens,
        |  md5(array_to_string(chunk, ' ')) AS chunk_hash
        |FROM c""".stripMargin,

    "bloom_dedup" ->
      s"""WITH pos AS (SELECT doc_id, list_distinct(list_transform(range(0, 5),
         |        i -> ${phashSql("concat(text, '#bloom', i)")} % ${1L << 24})) AS ps
         |      FROM documents),
         |bits AS (SELECT DISTINCT unnest(ps) AS bit FROM pos WHERE doc_id % 2 = 0),
         |probe AS (SELECT doc_id, unnest(ps) AS bit FROM pos)
         |SELECT p.doc_id,
         |  count(*) = sum(CASE WHEN b.bit IS NULL THEN 0 ELSE 1 END) AS bloom_hit
         |FROM probe p LEFT JOIN bits b ON p.bit = b.bit
         |GROUP BY p.doc_id""".stripMargin,

    // the counting filter's delete path must equal the filter REBUILT
    // without the forgotten slice — so the oracle IS the rebuild
    "bloom_forget" ->
      s"""WITH pos AS (SELECT doc_id, list_distinct(list_transform(range(0, 5),
         |        i -> ${phashSql("concat(text, '#bloom', i)")} % ${1L << 24})) AS ps
         |      FROM documents),
         |bits AS (SELECT DISTINCT unnest(ps) AS bit FROM pos WHERE doc_id % 10 <> 0),
         |probe AS (SELECT doc_id, unnest(ps) AS bit FROM pos)
         |SELECT p.doc_id,
         |  count(*) = sum(CASE WHEN b.bit IS NULL THEN 0 ELSE 1 END) AS bloom_hit
         |FROM probe p LEFT JOIN bits b ON p.bit = b.bit
         |GROUP BY p.doc_id""".stripMargin,

    "dedup_jaccard_join" -> jaccardJoinOracle(tPpm = 800000L),

    "lsh_recall" -> lshRecallOracle(tPpm = 500000L),

    // brute-force all-ORDERED-pairs containment: the asymmetric
    // prefix-filter path must find every (contained, container) pair
    "dedup_contain_join" ->
      s"""WITH sh AS (SELECT doc_id, ${phashSql("shingle")} AS h
         |  FROM (${shinglesSqlFor("documents")})),
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |i AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
         |      FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id <> b.doc_id
         |      GROUP BY 1, 2)
         |SELECT i.d1, i.d2, CAST(i.inter AS BIGINT) AS inter,
         |  CAST(sz.n AS BIGINT) AS n1,
         |  (i.inter * 1000000) // sz.n AS contain_ppm
         |FROM i JOIN sizes sz ON i.d1 = sz.doc_id
         |WHERE i.inter * 1000000 >= 800000 * sz.n""".stripMargin,

    // brute-force batch x corpus join: the incremental prefix-filter
    // path must find every cross-split pair at the threshold
    "dedup_jaccard_incr" ->
      s"""WITH shB AS (SELECT doc_id, ${phashSql("shingle")} AS h
         |  FROM (${shinglesSqlFor("(SELECT * FROM documents WHERE doc_id % 2 = 1)")})),
         |shC AS (SELECT doc_id, ${phashSql("shingle")} AS h
         |  FROM (${shinglesSqlFor("(SELECT * FROM documents WHERE doc_id % 2 = 0)")})),
         |szB AS (SELECT doc_id, count(*) AS n FROM shB GROUP BY doc_id),
         |szC AS (SELECT doc_id, count(*) AS n FROM shC GROUP BY doc_id),
         |i AS (SELECT b.doc_id AS batch_id, c.doc_id AS corpus_id,
         |        count(*) AS inter
         |      FROM shB b JOIN shC c ON b.h = c.h GROUP BY 1, 2)
         |SELECT i.batch_id, i.corpus_id, CAST(i.inter AS BIGINT) AS inter,
         |  CAST(nb.n + nc.n - i.inter AS BIGINT) AS uni,
         |  CAST(i.inter AS DOUBLE) / (nb.n + nc.n - i.inter) AS jaccard
         |FROM i
         |JOIN szB nb ON i.batch_id = nb.doc_id
         |JOIN szC nc ON i.corpus_id = nc.doc_id
         |WHERE i.inter * 1000000 >= 800000 * (nb.n + nc.n - i.inter)""".stripMargin,

    // brute-force batch x corpus CONTAINMENT: the full-token-index
    // probe must find every cross-split contained-in-corpus pair
    "dedup_contain_incr" ->
      s"""WITH shB AS (SELECT doc_id, ${phashSql("shingle")} AS h
         |  FROM (${shinglesSqlFor("(SELECT * FROM documents WHERE doc_id % 2 = 1)")})),
         |shC AS (SELECT doc_id, ${phashSql("shingle")} AS h
         |  FROM (${shinglesSqlFor("(SELECT * FROM documents WHERE doc_id % 2 = 0)")})),
         |szB AS (SELECT doc_id, count(*) AS n FROM shB GROUP BY doc_id),
         |i AS (SELECT b.doc_id AS batch_id, c.doc_id AS corpus_id,
         |        count(*) AS inter
         |      FROM shB b JOIN shC c ON b.h = c.h GROUP BY 1, 2)
         |SELECT i.batch_id, i.corpus_id, CAST(i.inter AS BIGINT) AS inter,
         |  CAST(nb.n AS BIGINT) AS bn,
         |  (i.inter * 1000000) // nb.n AS contain_ppm
         |FROM i JOIN szB nb ON i.batch_id = nb.doc_id
         |WHERE i.inter * 1000000 >= 800000 * nb.n""".stripMargin,

    "corpus_mix" ->
      """WITH r AS (SELECT doc_id, lang, n_chars,
        |  CAST(row_number() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id) AS INT) AS mix_rank
        |FROM documents)
        |SELECT doc_id, lang, mix_rank FROM r
        |WHERE mix_rank <= CASE lang WHEN 'en' THEN 100 WHEN 'de' THEN 30
        |  WHEN 'fr' THEN 30 WHEN 'es' THEN 20 WHEN 'zh' THEN 20 ELSE 0 END""".stripMargin,

    "txt_quality" ->
      """WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
        |m AS (SELECT doc_id,
        |  CAST(len(toks) AS INT) AS n_words,
        |  CAST(length(text) - (len(toks) - 1) AS DOUBLE) / len(toks) AS mean_word_len,
        |  CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS frac_distinct,
        |  CAST(len(list_filter(['the','a','of','and'], s -> list_contains(toks, s))) AS INT) AS stop_distinct
        |FROM t)
        |SELECT doc_id, n_words, mean_word_len, frac_distinct, stop_distinct,
        |  (n_words >= 20 AND mean_word_len >= 3.0 AND mean_word_len <= 8.0
        |    AND frac_distinct >= 0.35 AND stop_distinct >= 1) AS keep
        |FROM m""".stripMargin,

    "txt_top_ngram" ->
      """WITH t AS (SELECT doc_id, length(text) AS lc, string_split(text, ' ') AS toks FROM documents),
        |g AS (SELECT doc_id, lc,
        |  unnest([toks[i] || ' ' || toks[i + 1] for i in range(1, len(toks))]) AS gram FROM t),
        |c AS (SELECT doc_id, lc, gram, count(*) AS cnt FROM g GROUP BY 1, 2, 3),
        |w AS (SELECT doc_id, lc, gram, cnt,
        |  row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, gram) AS rn,
        |  CAST(sum(cnt) OVER (PARTITION BY doc_id) AS BIGINT) AS n_grams,
        |  count(*) OVER (PARTITION BY doc_id) AS n_distinct_grams
        |FROM c)
        |SELECT doc_id, gram AS top_gram, cnt AS top_cnt, n_grams, n_distinct_grams,
        |  CAST(n_grams - n_distinct_grams AS DOUBLE) / n_grams AS dup_gram_frac,
        |  CAST(cnt * length(gram) AS DOUBLE) / lc AS top_char_frac
        |FROM w WHERE rn = 1""".stripMargin,

    "txt_stats" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
        |  CAST(length(text) AS INT) AS len_chars,
        |  CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
        |    / len(string_split(text, ' ')) AS avg_tok_len,
        |  CAST(len(list_filter(string_split(text, ' '),
        |    t -> t IN ('the', 'a', 'of', 'and'))) AS INT) AS n_stop,
        |  CAST(len(list_filter(string_split(text, ' '),
        |    t -> t IN ('the', 'a', 'of', 'and'))) AS DOUBLE)
        |    / len(string_split(text, ' ')) AS stop_ratio
        |FROM documents""".stripMargin,

    "txt_langid" ->
      """WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks, text FROM documents),
        |sc AS (SELECT doc_id, lang,
        |  len(list_filter(toks, x -> x IN ('the','a','of','and','is'))) AS en,
        |  len(list_filter(toks, x -> x IN ('der','die','das','und','ist'))) AS de,
        |  len(list_filter(toks, x -> x IN ('le','la','les','et','est'))) AS fr,
        |  len(list_filter(toks, x -> x IN ('el','los','las','y','es'))) AS es,
        |  len(regexp_extract_all(text, '[一-鿿]')) AS zh
        |FROM t)
        |SELECT doc_id,
        |  CASE WHEN zh > 0 THEN 'zh'
        |    WHEN en >= de AND en >= fr AND en >= es AND en > 0 THEN 'en'
        |    WHEN de >= fr AND de >= es AND de > 0 THEN 'de'
        |    WHEN fr >= es AND fr > 0 THEN 'fr'
        |    WHEN es > 0 THEN 'es'
        |    ELSE 'und' END AS pred_lang,
        |  lang AS label_lang
        |FROM sc""".stripMargin,

    "txt_fingerprint" ->
      """SELECT doc_id,
        |  md5(trim(regexp_replace(lower(text), '[^a-z0-9一-鿿]+', ' ', 'g'))) AS fingerprint
        |FROM documents""".stripMargin,

    "dedup_exact" ->
      """SELECT md5(text) AS content_hash, min(doc_id) AS keeper, count(*) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin,

    "dedup_minhash_sig" ->
      s"SELECT doc_id, CAST(seed AS INT) AS seed, CAST(minh AS BIGINT) AS minh FROM ($minhashSigSql)",

    "dedup_lsh_pairs" -> lshPairsOracle,

    "dedup_components" -> componentsOracle,

    "dedup_stats" ->
      s"""WITH comp AS ($componentsOracle),
         |sizes AS (SELECT component, count(*) AS cluster_size FROM comp GROUP BY component)
         |SELECT cluster_size, count(*) AS n_clusters FROM sizes GROUP BY cluster_size""".stripMargin,

    "dedup_keep" -> dedupKeepSqlFor("documents"),

    "dedup_keep_best" -> dedupKeepBestSqlFor("documents"),

    "txt_repetition" -> repetitionOracleSql,

    "txt_repetition_keep" ->
      s"""SELECT doc_id,
         |  (dup_frac_2 <= 0.2 AND dup_frac_3 <= 0.18 AND dup_frac_4 <= 0.16) AS keep
         |FROM ($repetitionOracleSql)""".stripMargin,

    "txt_pack" ->
      """WITH t AS (SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n FROM documents),
        |c AS (SELECT doc_id, n,
        |  CAST(sum(n) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM t),
        |s AS (SELECT doc_id, n, cum, cum - n AS start FROM c),
        |x AS (SELECT doc_id, n, cum, start,
        |  unnest(range(start // 512, (cum - 1) // 512 + 1)) AS chunk_id FROM s)
        |SELECT chunk_id, doc_id,
        |  greatest(start, chunk_id * 512) - start AS off_start,
        |  least(cum, (chunk_id + 1) * 512) - greatest(start, chunk_id * 512) AS off_len
        |FROM x""".stripMargin,

    "txt_bpeish" ->
      s"""SELECT doc_id,
         |  CAST(len(string_split(text, ' ')) AS INT) AS ws_tokens,
         |  CAST(len(regexp_extract_all(text, '${BpeishPattern.replace("'", "''")}')) AS INT) AS bpeish_tokens
         |FROM documents""".stripMargin,

    "corpus_clean" -> corpusCleanOracle,

    "corpus_funnel" ->
      s"""SELECT
         |  (SELECT count(*) FROM documents WHERE doc_id >= 10) AS n_input,
         |  (SELECT count(*) FROM $cleanDeconSql x) AS n_decontaminated,
         |  (SELECT count(*) FROM $cleanSrcSql y) AS n_quality,
         |  (SELECT count(*) FROM ($corpusCleanOracle) z) AS n_dedup""".stripMargin,

    "dedup_jaccard_brute" ->
      s"""WITH sh AS (SELECT * FROM ($shinglesSql) WHERE doc_id < 200),
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |inter AS (
         |  SELECT s1.doc_id AS d1, s2.doc_id AS d2, count(*) AS inter
         |  FROM sh s1 JOIN sh s2 ON s1.shingle = s2.shingle AND s1.doc_id < s2.doc_id
         |  GROUP BY 1, 2)
         |SELECT d1, d2,
         |  CAST(i.inter AS DOUBLE) / (n1.n + n2.n - i.inter) AS jaccard
         |FROM inter i
         |JOIN sizes n1 ON i.d1 = n1.doc_id
         |JOIN sizes n2 ON i.d2 = n2.doc_id
         |WHERE CAST(i.inter AS DOUBLE) / (n1.n + n2.n - i.inter) >= 0.02""".stripMargin,

    "txt_vocab_topk" ->
      """SELECT tok, count(*) AS freq
        |FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        |GROUP BY tok ORDER BY freq DESC, tok LIMIT 50""".stripMargin,

    // exact long sums of micro-unit quantized logs; doubles only in the
    // final combine (same expression shape as the engine — n*sxy would
    // overflow BIGINT at production token totals)
    "txt_zipf" ->
      """WITH v AS (SELECT tok, CAST(count(*) AS BIGINT) AS freq
        |      FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        |      GROUP BY tok),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS vocab_size,
        |               CAST(sum(freq) AS BIGINT) AS total_tokens FROM v),
        |top AS (SELECT freq, CAST(row_number() OVER (ORDER BY freq DESC, tok) AS BIGINT) AS rank
        |        FROM v ORDER BY freq DESC, tok LIMIT 1000),
        |q AS (SELECT CAST(round(ln(CAST(rank AS DOUBLE)) * 1e6) AS BIGINT) AS xq,
        |             CAST(round(ln(CAST(freq AS DOUBLE)) * 1e6) AS BIGINT) AS yq,
        |             freq FROM top),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(xq) AS BIGINT) AS sx,
        |             CAST(sum(yq) AS BIGINT) AS sy, CAST(sum(xq * yq) AS BIGINT) AS sxy,
        |             CAST(sum(xq * xq) AS BIGINT) AS sxx,
        |             CAST(sum(freq) AS BIGINT) AS top_freq FROM q)
        |SELECT vocab_size, total_tokens,
        |  CAST(floor(CAST(top_freq AS DOUBLE) / CAST(total_tokens AS DOUBLE) * 1e6) AS BIGINT) AS topv_coverage_ppm,
        |  round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |    / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS zipf_slope,
        |  round((CAST(sy AS DOUBLE) - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |    / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) * CAST(sx AS DOUBLE))
        |    / CAST(n AS DOUBLE) / 1e6, 6) AS zipf_intercept
        |FROM s CROSS JOIN tot""".stripMargin,

    "txt_heaps" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |pd AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_toks FROM t),
        |fw AS (SELECT w, min(doc_id) AS doc_id
        |       FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
        |       GROUP BY w),
        |nt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS new_types FROM fw GROUP BY doc_id),
        |c AS (SELECT sum(pd.n_toks) OVER (ORDER BY pd.doc_id) AS ct,
        |             sum(coalesce(nt.new_types, 0)) OVER (ORDER BY pd.doc_id) AS cv
        |      FROM pd LEFT JOIN nt ON pd.doc_id = nt.doc_id),
        |q AS (SELECT CAST(round(ln(CAST(ct AS DOUBLE)) * 1e6) AS BIGINT) AS xq,
        |             CAST(round(ln(CAST(cv AS DOUBLE)) * 1e6) AS BIGINT) AS yq
        |      FROM c WHERE ct >= 1 AND cv >= 1),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS n, sum(xq) AS sx, sum(yq) AS sy,
        |             sum(xq * yq) AS sxy, sum(xq * xq) AS sxx FROM q),
        |tot AS (SELECT CAST(sum(len(toks)) AS BIGINT) AS total_tokens FROM t),
        |vs AS (SELECT CAST(count(*) AS BIGINT) AS vocab_size FROM fw)
        |SELECT total_tokens, vocab_size,
        |  CASE WHEN n < 2 THEN NULL ELSE
        |  round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |    / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) END AS heaps_beta,
        |  CASE WHEN n < 2 THEN NULL ELSE
        |  round((CAST(sy AS DOUBLE) - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |    / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) * CAST(sx AS DOUBLE))
        |    / CAST(n AS DOUBLE) / 1e6, 6) END AS heaps_logk
        |FROM s CROSS JOIN tot CROSS JOIN vs""".stripMargin,

    "txt_pmi" ->
      """WITH t AS (SELECT string_split(text, ' ') AS toks FROM documents),
        |tot AS (SELECT CAST(sum(len(toks)) AS BIGINT) AS n_toks,
        |               CAST(sum(greatest(len(toks) - 1, 0)) AS BIGINT) AS n_bigrams FROM t),
        |vc AS (SELECT w, CAST(count(*) AS BIGINT) AS c
        |       FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |       GROUP BY w),
        |bg AS (SELECT toks[i] AS w1, toks[i + 1] AS w2
        |       FROM t, LATERAL (SELECT unnest(range(1, greatest(len(toks) - 1, 0) + 1)) AS i)),
        |pc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_pair
        |       FROM bg GROUP BY w1, w2 HAVING count(*) >= 5)
        |SELECT pc.w1, pc.w2, pc.n_pair,
        |  round(ln((CAST(pc.n_pair AS DOUBLE) * CAST(tot.n_toks AS DOUBLE) * CAST(tot.n_toks AS DOUBLE))
        |    / (CAST(tot.n_bigrams AS DOUBLE) * CAST(c1.c AS DOUBLE) * CAST(c2.c AS DOUBLE))), 6) AS pmi
        |FROM pc JOIN vc c1 ON pc.w1 = c1.w JOIN vc c2 ON pc.w2 = c2.w CROSS JOIN tot""".stripMargin,

    "corpus_diff" ->
      """WITH o AS (SELECT doc_id, md5(text) AS h_old FROM documents
        |           WHERE doc_id % 10 <> 9),
        |n AS (SELECT doc_id,
        |        md5(CASE WHEN doc_id % 10 = 3 THEN text || ' v2' ELSE text END) AS h_new
        |      FROM documents WHERE doc_id % 10 <> 4)
        |SELECT status, CAST(count(*) AS BIGINT) AS n_docs FROM (
        |  SELECT CASE WHEN h_old IS NULL THEN 'added'
        |              WHEN h_new IS NULL THEN 'removed'
        |              WHEN h_old <> h_new THEN 'changed'
        |              ELSE 'unchanged' END AS status
        |  FROM o FULL OUTER JOIN n USING (doc_id)) t
        |GROUP BY status""".stripMargin,

    "vocab_drift" -> {
      val K = 1001
      def termSql(cn: String, co: String) =
        s"""CAST(round(((CAST($cn + 1 AS DOUBLE) / CAST(n_n + $K AS DOUBLE)) *
           | ln((CAST($cn + 1 AS DOUBLE) * CAST(n_o + $K AS DOUBLE)) /
           |    (CAST($co + 1 AS DOUBLE) * CAST(n_n + $K AS DOUBLE)))) * 1e9) AS BIGINT)"""
          .stripMargin
      s"""WITH od AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 9),
         |nd AS (SELECT doc_id,
         |         CASE WHEN doc_id % 10 = 3 THEN text || ' v2' ELSE text END AS text
         |       FROM documents WHERE doc_id % 10 <> 4),
         |vo AS (SELECT w, CAST(count(*) AS BIGINT) AS c_o
         |       FROM (SELECT unnest(string_split(text, ' ')) AS w FROM od) GROUP BY w),
         |vn AS (SELECT w, CAST(count(*) AS BIGINT) AS c_n
         |       FROM (SELECT unnest(string_split(text, ' ')) AS w FROM nd) GROUP BY w),
         |j AS (SELECT coalesce(vo.w, vn.w) AS w, coalesce(c_o, 0) AS c_o,
         |        coalesce(c_n, 0) AS c_n
         |      FROM vo FULL OUTER JOIN vn ON vo.w = vn.w),
         |top AS (SELECT * FROM j ORDER BY c_o + c_n DESC, w LIMIT 1000),
         |tot AS (SELECT (SELECT CAST(sum(c_o) AS BIGINT) FROM j) AS n_o,
         |               (SELECT CAST(count(*) AS BIGINT) FROM vo) AS v_o,
         |               (SELECT CAST(sum(c_n) AS BIGINT) FROM j) AS n_n,
         |               (SELECT CAST(count(*) AS BIGINT) FROM vn) AS v_n),
         |ta AS (SELECT CAST(sum(${termSql("c_n", "c_o")}) AS BIGINT) AS kl_top_nano,
         |         CAST(sum(c_o) AS BIGINT) AS top_c_o,
         |         CAST(sum(c_n) AS BIGINT) AS top_c_n
         |       FROM top CROSS JOIN tot)
         |SELECT n_o AS n_tokens_old, n_n AS n_tokens_new,
         |  v_o AS vocab_old, v_n AS vocab_new,
         |  kl_top_nano + ${termSql("n_n - top_c_n", "n_o - top_c_o")} AS kl_nano
         |FROM tot CROSS JOIN ta""".stripMargin
    },

    "txt_charclass" -> {
      def cnt(c: String) = s"CAST(len(regexp_extract_all(text, '$c')) AS BIGINT)"
      def ppm(c: String) =
        s"CAST(CASE WHEN length(text) = 0 THEN 0 ELSE ($c * 1000000) // length(text) END AS BIGINT)"
      val other = s"(length(text) - ${charClasses.map(c => cnt(c._2)).mkString(" - ")})"
      s"""SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
         |  ${charClasses.map { case (n, c) => ppm(cnt(c)) + s" AS ${n}_ppm" }.mkString(",\n  ")},
         |  ${ppm(other)} AS other_ppm
         |FROM documents""".stripMargin
    },

    "corpus_percentiles" -> {
      val sigSql =
        """SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
          |  round(CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
          |    / len(string_split(text, ' ')), 6) AS mean_word_len FROM documents""".stripMargin
      val cells = for {
        c <- Seq("n_tokens", "mean_word_len")
        (pct, q) <- Seq((5, "0.05"), (25, "0.25"), (50, "0.5"), (75, "0.75"), (95, "0.95"))
      } yield
        s"SELECT '$c' AS signal, $pct AS q_pct, round(quantile_cont($c, $q), 6) AS value FROM s"
      s"WITH s AS ($sigSql)\n" + cells.mkString("\nUNION ALL\n")
    },

    "txt_readability" ->
      """WITH c AS (SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        |  CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT) AS n_sentences,
        |  CAST(greatest(len(regexp_extract_all(lower(text), '[aeiouy]+')), 1) AS BIGINT) AS n_syllables
        |FROM documents)
        |SELECT doc_id, n_words, n_sentences, n_syllables,
        |  round(206.835 - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
        |    - 84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)), 6) AS flesch_ease,
        |  round(0.39 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
        |    + 11.8 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)) - 15.59, 6) AS fk_grade
        |FROM c""".stripMargin,

    "dedup_editdist_pairs" -> {
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |h AS (SELECT doc_id, list_transform(
         |        list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
         |          i -> concat(toks[i], ' ', toks[i + 1], ' ', toks[i + 2])),
         |        g -> ${phashSql("g")}) AS hashes
         |      FROM t),
         |f AS (SELECT doc_id, unnest(
         |        CASE WHEN len(hashes) = 0 THEN CAST([] AS BIGINT[])
         |        ELSE list_distinct(list_transform(
         |          range(1, greatest(len(hashes) - 3, 1) + 1),
         |          i -> list_min(list_slice(hashes, CAST(i AS INT), CAST(i + 3 AS INT))))) END) AS fp
         |      FROM h),
         |cand AS (SELECT a.doc_id AS d1, b.doc_id AS d2, CAST(count(*) AS BIGINT) AS n_shared
         |         FROM f a JOIN f b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |         GROUP BY a.doc_id, b.doc_id
         |         HAVING count(*) >= 2),
         |v AS (SELECT c.d1, c.d2, c.n_shared,
         |        CAST(levenshtein(x.text, y.text) AS BIGINT) AS dist,
         |        CAST(greatest(length(x.text), length(y.text)) AS BIGINT) AS max_len
         |      FROM cand c JOIN documents x ON c.d1 = x.doc_id
         |                  JOIN documents y ON c.d2 = y.doc_id)
         |SELECT d1, d2, n_shared, dist,
         |  CASE WHEN max_len = 0 THEN CAST(1000000 AS BIGINT)
         |       ELSE (max_len - dist) * 1000000 // max_len END AS sim_ppm
         |FROM v
         |WHERE (CASE WHEN max_len = 0 THEN 1000000
         |            ELSE (max_len - dist) * 1000000 // max_len END) >= 500000""".stripMargin
    },

    "txt_unigram_lm" -> unigramLmSql,

    "txt_ppl_buckets" ->
      s"""WITH u AS ($unigramLmSql),
         |b AS (SELECT doc_id, nll,
         |  CAST(ntile(3) OVER (ORDER BY nll, doc_id) AS INT) AS bucket FROM u)
         |SELECT doc_id, nll, bucket,
         |  CASE bucket WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS band
         |FROM b""".stripMargin,

    "txt_scrub_ngrams" -> scrubNgramsOracle(n = 3, maxDf = 5),
    "dedup_substring" -> substringDedupOracle(k = 50),
    "dedup_substring_keep" -> substringDedupKeepOracle(k = 50),
    "dedup_substring_incr" -> substringDedupIncrOracle(k = 50),
    "dedup_substring_chars" -> substringCharsDedupOracle(L = 100),
    "dedup_substring_chars_keep" -> substringCharsDedupKeepOracle(L = 100),
    "dedup_substring_chars_incr" -> substringCharsDedupIncrOracle(L = 100),

    "bpe_pairs" ->
      """WITH wf AS (
        |  SELECT word, count(*) AS freq
        |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |  GROUP BY word),
        |p AS (SELECT freq, unnest(list_transform(range(1, length(word) + 1),
        |    i -> concat(substring(word, i, 1), ' ',
        |         CASE WHEN i = length(word) THEN '</w>'
        |              ELSE substring(word, i + 1, 1) END))) AS pair
        |  FROM wf WHERE length(word) >= 1)
        |SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt
        |FROM p GROUP BY pair
        |ORDER BY cnt DESC, pair LIMIT 50""".stripMargin,

    "corpus_sample" -> {
      val cases = Seq("src0" -> 1.0, "src1" -> 0.75, "src2" -> 0.5,
        "src3" -> 0.25, "src4" -> 0.1)
        .map { case (k, v) => s"WHEN '$k' THEN ${math.round(v * 1000000L)}" }
        .mkString(" ")
      s"""SELECT doc_id, source FROM documents
         |WHERE ${phashSql("concat('smp_', CAST(doc_id AS VARCHAR))")} % 1000000
         |  < (CASE source $cases ELSE ${math.round(0.05 * 1000000L)} END)""".stripMargin
    },

    "corpus_upsample" -> {
      val cases = Seq("src0" -> 2.5, "src1" -> 1.0, "src2" -> 0.4)
        .map { case (k, v) => s"WHEN '$k' THEN ${math.round(v * 1000000L)}" }
        .mkString(" ")
      s"""WITH w AS (
         |  SELECT doc_id, source,
         |    (CASE source $cases ELSE 0 END) AS wppm
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, source,
         |    wppm // 1000000 +
         |    CASE WHEN ${phashSql("concat('ups_', CAST(doc_id AS VARCHAR))")} % 1000000
         |         < wppm % 1000000 THEN 1 ELSE 0 END AS n
         |  FROM w)
         |SELECT doc_id, source, unnest(range(1, n + 1)) AS copy
         |FROM c WHERE n > 0""".stripMargin
    },

    "txt_tfidf" ->
      """WITH tf AS (
        |  SELECT doc_id, tok, count(*) AS tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
        |  GROUP BY doc_id, tok),
        |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
        |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents)
        |SELECT tf.doc_id, tf.tok, round(tf.tf * ln(n.n / df.df), 6) AS tfidf
        |FROM tf JOIN df USING (tok) CROSS JOIN n
        |WHERE tf.doc_id < 50""".stripMargin,

    "data_profile" ->
      """SELECT 'l_quantity' AS column, count(*) AS n,
        |  min(l_quantity) AS min_v, max(l_quantity) AS max_v,
        |  CAST(sum(CAST(round(l_quantity * 10000) AS BIGINT)) AS BIGINT) AS sum_e4,
        |  round(quantile_cont(l_quantity, 0.5), 6) AS median
        |FROM lineitem
        |UNION ALL
        |SELECT 'l_extendedprice', count(*), min(l_extendedprice), max(l_extendedprice),
        |  CAST(sum(CAST(round(l_extendedprice * 10000) AS BIGINT)) AS BIGINT),
        |  round(quantile_cont(l_extendedprice, 0.5), 6)
        |FROM lineitem
        |UNION ALL
        |SELECT 'l_discount', count(*), min(l_discount), max(l_discount),
        |  CAST(sum(CAST(round(l_discount * 10000) AS BIGINT)) AS BIGINT),
        |  round(quantile_cont(l_discount, 0.5), 6)
        |FROM lineitem""".stripMargin,

    "dedup_simhash" -> simhashOracleSql,

    // semantics, not plan: every token above the frequency threshold,
    // exact counts — the engine's sketch+verify must land on exactly this
    "txt_heavy_hitters" ->
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
        |n AS (SELECT count(*) AS n FROM tok)
        |SELECT tok, count(*) AS freq
        |FROM tok CROSS JOIN n
        |GROUP BY tok, n
        |HAVING count(*) * 256 > n""".stripMargin,

    "dedup_simhash_incr" ->
      s"""WITH sh AS ($simhashWideOracleSql),
         |b AS (SELECT doc_id AS batch_id, simhash AS bh FROM sh WHERE doc_id % 2 = 1),
         |c AS (SELECT doc_id AS dup_of, simhash AS ch FROM sh WHERE doc_id % 2 = 0),
         |m AS (
         |  SELECT batch_id, dup_of, CAST(bit_count(xor(bh, ch)) AS INT) AS hamming
         |  FROM b JOIN c ON bit_count(xor(bh, ch)) <= 3),
         |r AS (
         |  SELECT batch_id, dup_of, hamming,
         |    row_number() OVER (PARTITION BY batch_id ORDER BY hamming, dup_of) AS rn
         |  FROM m)
         |SELECT batch_id, dup_of, hamming FROM r WHERE rn = 1""".stripMargin,

    // the pair oracle states the SEMANTICS (all doc pairs within
    // hamming 3 of each other), not the banded plan: brute force is
    // fine at oracle scale, and pinning the definition rather than the
    // implementation is the point of an oracle
    "dedup_simhash_pairs" ->
      s"""WITH sh AS ($simhashWideOracleSql),
         |a AS (SELECT doc_id AS d1, simhash AS h1 FROM sh),
         |b AS (SELECT doc_id AS d2, simhash AS h2 FROM sh)
         |SELECT d1, d2, CAST(bit_count(xor(h1, h2)) AS INT) AS hamming
         |FROM a JOIN b ON d1 < d2
         |WHERE bit_count(xor(h1, h2)) <= 3""".stripMargin,

    "txt_bm25" -> {
      val terms = Seq("spark", "join", "data")
      val dfCols = terms.zipWithIndex.map { case (t, i) =>
        s"sum(CASE WHEN list_contains(toks, '$t') THEN 1 ELSE 0 END) AS df$i"
      }.mkString(",\n  ")
      val contribs = terms.zipWithIndex.map { case (t, i) =>
        val tf = s"CAST(len(list_filter(toks, x -> x = '$t')) AS DOUBLE)"
        // (1.2 + 1.0), not 2.2: the engine computes k1+1 from the same
        // two doubles, and 2.2 parses to a DIFFERENT double than their sum
        s"""ln(1.0 + (n_docs - df$i + 0.5) / (df$i + 0.5)) * ($tf * (1.2 + 1.0)) /
           |    ($tf + 1.2 * (1.0 - 0.75 + 0.75 * len(toks) * n_docs / total_len))""".stripMargin
      }.mkString("\n  + ")
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |st AS (
         |  SELECT count(*) AS n_docs, sum(len(toks)) AS total_len,
         |  $dfCols
         |  FROM d),
         |sc AS (
         |  SELECT doc_id, round(
         |  $contribs, 6) AS score
         |  FROM d CROSS JOIN st)
         |SELECT doc_id, score FROM sc WHERE score > 0
         |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin
    }
  )

  /** The 60-bit SimHash fingerprint oracle (the [[simhashFrameWide]]
    * twin: full phash feature hashes, 60 bit-weight sums). */
  private[text] lazy val simhashWideOracleSql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, ${phashSql("tok")} AS h
       |  FROM (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
       |        FROM documents)),
       |bits AS (
       |  SELECT doc_id, b,
       |    sum(CASE WHEN (h >> CAST(b AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS w
       |  FROM tok CROSS JOIN (SELECT unnest(range(60)) AS b)
       |  GROUP BY doc_id, b)
       |SELECT doc_id,
       |  CAST(sum(CASE WHEN w > 0 THEN (CAST(1 AS BIGINT) << CAST(b AS INT)) ELSE 0 END) AS BIGINT) AS simhash
       |FROM bits GROUP BY doc_id""".stripMargin

  /** The 32-bit SimHash fingerprint oracle (dedup_simhash). */
  private[text] lazy val simhashOracleSql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, ${phashSql("tok")} % 4294967296 AS h
       |  FROM (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
       |        FROM documents)),
       |bits AS (
       |  SELECT doc_id, b,
       |    sum(CASE WHEN (h >> CAST(b AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS w
       |  FROM tok CROSS JOIN (SELECT unnest(range(32)) AS b)
       |  GROUP BY doc_id, b)
       |SELECT doc_id,
       |  CAST(sum(CASE WHEN w > 0 THEN (CAST(1 AS BIGINT) << CAST(b AS INT)) ELSE 0 END) AS BIGINT) AS simhash
       |FROM bits GROUP BY doc_id""".stripMargin
}
