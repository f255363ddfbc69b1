package graft.engine

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import graft.types.IcebergTypes

/** MERGE INTO — upsert for incremental pipelines (superset: the
  * reference's ingest path is append-only and routes no MERGE;
  * cf. /root/reference/server/query/query.go statement switch).
  *
  * ```
  * MERGE INTO tgt [AS t] USING <table | (subquery) [AS s[(cols)]]>
  *   ON <cond>
  *   [WHEN MATCHED [AND c] THEN UPDATE SET x = e, ...]...
  *   [WHEN MATCHED [AND c] THEN DELETE]...
  *   [WHEN NOT MATCHED [AND c] THEN INSERT [(cols)] VALUES (e, ...)]...
  * ```
  *
  * Executed as ONE full-outer join + a single copy-on-write rewrite:
  *  - every target column becomes a CASE over (matched?, first
  *    applicable clause) — first-match-wins, the ANSI rule;
  *  - updated / deleted / inserted counts OBSERVE the same job
  *    (CollectMetrics) — no separate counting scans;
  *  - the ANSI multi-match error (a target row joining >1 source rows
  *    would be updated/deleted nondeterministically) is a bounded
  *    pre-job: inner-join grouped by a per-target-row id, `LIMIT 1` on
  *    any group with n > 1. Only runs when a MATCHED clause exists.
  *
  * Scale: the join shuffles on the ON keys exactly once (AQE picks
  * broadcast when the source is batch-sized — the common case for
  * incremental upserts); the rewrite is the engine's staged CoW. The
  * partition-scoped variant (dynamic overwrite of only the partitions
  * the source touches) is the UPDATE/DELETE machinery's shape and
  * applies when the ON cond pins every target partition column —
  * routed whole-table here, as MERGE sources can insert into arbitrary
  * new partitions.
  *
  * Column references in ON / SET / VALUES should be alias-qualified
  * (`t.c`, `s.c`); unqualified names shared by both sides resolve
  * ambiguous, as in ANSI.
  */
object MergeInto {

  final case class Matched(cond: Option[String],
                           sets: Option[Seq[(String, String)]]) // None = DELETE
  final case class NotMatched(cond: Option[String],
                              cols: Seq[String], vals: Seq[String])
  /** `resolve` turns an ON / AND / SET / VALUES fragment into a
    * column; the engine supplies one that resolves graft's SQL
    * extensions and binds parameters. */
  final case class Parsed(table: String, tAlias: String,
                          sourceIsQuery: Boolean, source: String,
                          sAlias: String,
                          onCond: String,
                          matched: Seq[Matched], notMatched: Seq[NotMatched],
                          resolve: String => Column = expr)

  private val headRe =
    """(?is)^MERGE\s+INTO\s+([\w.`]+)(?:\s+(?:AS\s+)?(?!USING\b)(\w+))?\s+USING\s+(.*)$""".r
  private val matchedUpdRe =
    """(?is)^MATCHED(?:\s+AND\s+(.+?))?\s+THEN\s+UPDATE\s+SET\s+(.+)$""".r
  private val matchedDelRe =
    """(?is)^MATCHED(?:\s+AND\s+(.+?))?\s+THEN\s+DELETE\s*$""".r
  private val notMatchedRe =
    """(?is)^NOT\s+MATCHED(?:\s+AND\s+(.+?))?\s+THEN\s+INSERT\s*(?:\(([^)]*)\)\s*)?VALUES\s*\((.+)\)\s*$""".r

  /** None when the statement is not a MERGE; throws on a malformed one
    * (the head matched — the user meant MERGE). */
  def parse(sql: String): Option[Parsed] = sql.trim match {
    case headRe(table, tAliasOpt, rest0) =>
      val t = table.replace("`", "")
      val tAlias = Option(tAliasOpt).getOrElse(t.split('.').last)
      var rest = rest0.trim
      // --- source: (subquery) or table name
      val (isQuery, source) =
        if (rest.startsWith("(")) {
          val end = matchParen(rest, 0)
          val inner = rest.substring(0, end + 1)
          rest = rest.substring(end + 1).trim
          (true, inner)
        } else {
          val m = """(?s)^([\w.`]+)\s*(.*)$""".r.findFirstMatchIn(rest)
            .getOrElse(fail("cannot parse MERGE source"))
          rest = m.group(2).trim
          (false, m.group(1).replace("`", ""))
        }
      // --- optional source alias [+ column list]
      val aliasRe = """(?is)^(?:AS\s+)?(?!ON\b)(\w+)\s*(\(([^)]*)\))?\s*(.*)$""".r
      val (sAlias, colAliases, afterAlias) = rest match {
        case aliasRe(a, _, colsOpt, tail) =>
          (a, Option(colsOpt).map(_.trim).filter(_.nonEmpty), tail.trim)
        case _ =>
          if (isQuery) fail("MERGE subquery source needs an alias")
          (if (source.contains('.')) source.split('.').last else source,
            None, rest)
      }
      val sourceSql =
        if (isQuery)
          s"SELECT * FROM $source AS $sAlias${colAliases.map("(" + _ + ")").getOrElse("")}"
        else source
      // --- ON cond up to the first top-level WHEN
      if (!afterAlias.toUpperCase.startsWith("ON"))
        fail("MERGE needs an ON clause")
      val afterOn = afterAlias.substring(2).trim
      val pieces = splitOnTopLevelWord(afterOn, "WHEN")
      if (pieces.length < 2) fail("MERGE needs at least one WHEN clause")
      val onCond = pieces.head.trim
      val matched = Seq.newBuilder[Matched]
      val notMatched = Seq.newBuilder[NotMatched]
      pieces.tail.map(_.trim).foreach {
        case matchedUpdRe(cond, setList) =>
          val sets = IcebergTypes.splitTopLevel(setList).map { a =>
            a.split("=", 2) match {
              case Array(c, v) => c.trim.replace("`", "") -> v.trim
              case _ => fail(s"bad MERGE SET clause: '$a'")
            }
          }
          matched += Matched(Option(cond).map(_.trim), Some(sets))
        case matchedDelRe(cond) =>
          matched += Matched(Option(cond).map(_.trim), None)
        case notMatchedRe(cond, colsOpt, vals) =>
          notMatched += NotMatched(
            Option(cond).map(_.trim),
            Option(colsOpt).toSeq.flatMap(_.split(",").map(
              _.trim.replace("`", "")).filter(_.nonEmpty)),
            IcebergTypes.splitTopLevel(vals))
        case other => fail(s"cannot parse MERGE WHEN clause: 'WHEN $other'")
      }
      Some(Parsed(t, tAlias, isQuery, sourceSql, sAlias, onCond,
        matched.result(), notMatched.result()))
    case _ => None
  }

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(msg)

  /** index of the ')' matching the '(' at `from` (quote-aware). */
  private def matchParen(s: String, from: Int): Int = {
    var depth = 0; var i = from; var inStr = false
    while (i < s.length) {
      val c = s.charAt(i)
      if (inStr) { if (c == '\'') inStr = false }
      else c match {
        case '\'' => inStr = true
        case '(' => depth += 1
        case ')' => depth -= 1; if (depth == 0) return i
        case _ =>
      }
      i += 1
    }
    fail("unbalanced parentheses in MERGE statement")
  }

  /** Split on word occurrences at paren depth 0, outside string
    * literals, on word boundaries; the text before the first
    * occurrence is element 0. */
  private def splitOnTopLevelWord(s: String, word: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var depth = 0; var inStr = false; var i = 0
    val w = word.toUpperCase
    def boundary(c: Char) = !Character.isLetterOrDigit(c) && c != '_'
    while (i < s.length) {
      val c = s.charAt(i)
      if (!inStr && depth == 0 && c.toUpper == w.charAt(0) &&
          i + w.length <= s.length &&
          s.substring(i, i + w.length).equalsIgnoreCase(w) &&
          (i == 0 || boundary(s.charAt(i - 1))) &&
          (i + w.length == s.length || boundary(s.charAt(i + w.length)))) {
        out += cur.toString; cur.clear()
        i += w.length
      } else {
        if (inStr) { if (c == '\'') inStr = false }
        else c match {
          case '\'' => inStr = true
          case '(' => depth += 1
          case ')' => depth -= 1
          case _ =>
        }
        cur += c
        i += 1
      }
    }
    out += cur.toString
    out.result()
  }

  final case class Plan(result: DataFrame, obs: Observation,
                        dupCheck: Option[DataFrame], sourceDf: DataFrame)

  /** Build the single-pass merge plan. `result` is the post-merge
    * table content (target schema, unfiltered columns aligned);
    * `obs` yields updated/deleted/inserted after `result` executes;
    * `dupCheck` (when MATCHED clauses exist) is non-empty iff some
    * target row matches multiple source rows — run it BEFORE the
    * rewrite. */
  /** The programmatic upsert shape: UPDATE every non-key column on
    * match, INSERT everything on miss — what a CDC/streaming sink
    * wants, without rendering SQL. */
  /** `frozenCols`: columns set on INSERT but never UPDATEd — the
    * engine passes the table's partition columns here, so an upsert
    * never moves a row across partitions (partition value is part of
    * row identity, the Hive/Delta convention) and the partition-scoped
    * merge path stays applicable. */
  def upsertParsed(table: String, keyCols: Seq[String],
                   columns: Seq[String],
                   frozenCols: Seq[String] = Seq.empty): Parsed = {
    require(keyCols.nonEmpty, "upsert needs at least one key column")
    val nonKey = columns.filterNot(c =>
      keyCols.contains(c) || frozenCols.contains(c))
    Parsed(table, "t", sourceIsQuery = false, source = "<override>",
      sAlias = "s",
      onCond = keyCols.map(k => s"t.`$k` = s.`$k`").mkString(" AND "),
      matched =
        if (nonKey.isEmpty) Seq.empty
        else Seq(Matched(None, Some(nonKey.map(c => c -> s"s.`$c`")))),
      notMatched = Seq(NotMatched(None, columns,
        columns.map(c => s"s.`$c`"))))
  }

  /** The resolved source DataFrame (`sourceOverride` wins — the
    * programmatic/streaming entry). */
  def resolveSource(spark: SparkSession, p: Parsed,
                    sourceOverride: Option[DataFrame]): DataFrame =
    sourceOverride.getOrElse(
      if (p.sourceIsQuery) spark.sql(p.source) else spark.table(p.source))

  /** ANSI multi-match guard: non-empty iff some target row matches
    * multiple source rows (only built when a MATCHED clause exists).
    * `restrictTo`: prune the target scan to the partitions that can
    * hold matches (every match lives in an affected partition). */
  def dupCheck(spark: SparkSession, p: Parsed, srcRaw: DataFrame,
               restrictTo: Option[Column] = None): Option[DataFrame] =
    if (p.matched.isEmpty) None
    else Some(
      restrictTo.foldLeft(spark.table(p.table))(_.where(_))
        .withColumn("__tid", monotonically_increasing_id())
        .alias(p.tAlias)
        .join(srcRaw.alias(p.sAlias), p.resolve(p.onCond), "inner")
        .groupBy(col("__tid")).agg(count(lit(1)).as("n"))
        .where(col("n") > 1).limit(1))

  /** `declaredOrder`: the user-visible column order for positional
    * `INSERT VALUES` without a column list (the DDL order — Spark's
    * catalog moves partition columns last, SHOW COLUMNS does not).
    * `sourceOverride`: use this DataFrame as the source instead of
    * resolving `p.source` (the programmatic/streaming entry). */
  def plan(spark: SparkSession, p: Parsed,
           declaredOrder: Seq[String] = Seq.empty,
           sourceOverride: Option[DataFrame] = None,
           targetOverride: Option[DataFrame] = None): Plan = {
    // targetOverride = the FILE-level CoW slice (r11): the caller has
    // proven (zonemap key bounds) that every source match lives in
    // these rows, so the merge runs against them alone and rows
    // outside the slice stay byte-untouched on disk
    val tgtBase = targetOverride.getOrElse(spark.table(p.table))
    val schema = tgtBase.schema
    val tCols = schema.fieldNames.toSeq
    val insertOrder = if (declaredOrder.nonEmpty) declaredOrder else tCols

    val srcRaw = resolveSource(spark, p, sourceOverride)
    val src = srcRaw.withColumn("__sm", lit(true)).alias(p.sAlias)
    val tgt = tgtBase.withColumn("__tm", lit(true)).alias(p.tAlias)

    val j = tgt.join(src, p.resolve(p.onCond), "full_outer")
    val mFlag = coalesce(col("__tm"), lit(false))
    val sFlag = coalesce(col("__sm"), lit(false))
    val isMatched = mFlag && sFlag

    def applicable(cond: Option[String]): Column =
      cond.map(c => coalesce(p.resolve(c), lit(false))).getOrElse(lit(true))

    // first applicable clause index per row (-1 = none) — foldRight so
    // the earliest clause wins, the ANSI order
    val midx = when(isMatched,
      p.matched.zipWithIndex.foldRight(lit(-1): Column) {
        case ((cl, i), acc) => when(applicable(cl.cond), lit(i)).otherwise(acc)
      }).otherwise(lit(-1))
    val nidx = when(sFlag && !mFlag,
      p.notMatched.zipWithIndex.foldRight(lit(-1): Column) {
        case ((cl, i), acc) => when(applicable(cl.cond), lit(i)).otherwise(acc)
      }).otherwise(lit(-1))

    val deleteIdxs = p.matched.zipWithIndex.collect {
      case (Matched(_, None), i) => i }
    val isDelete =
      if (deleteIdxs.isEmpty) lit(false)
      else midx.isInCollection(deleteIdxs)

    val keep = when(isMatched, !isDelete)
      .when(mFlag, lit(true))
      .otherwise(nidx >= 0)

    def valueFor(c: String): Column = {
      val dt = schema(c).dataType
      val tCol = col(s"${p.tAlias}.$c")
      val matchedCase = p.matched.zipWithIndex.foldLeft(tCol) {
        case (acc, (Matched(_, Some(sets)), i)) =>
          sets.find(_._1.equalsIgnoreCase(c)) match {
            case Some((_, v)) =>
              when(midx === i, p.resolve(v).cast(dt)).otherwise(acc)
            case None => acc
          }
        case (acc, _) => acc
      }
      val insertCase = p.notMatched.zipWithIndex
        .foldLeft(lit(null).cast(dt): Column) { case (acc, (cl, i)) =>
          val cols = if (cl.cols.isEmpty) insertOrder else cl.cols
          val pos = cols.indexWhere(_.equalsIgnoreCase(c))
          if (pos >= 0 && pos < cl.vals.length)
            when(nidx === i, p.resolve(cl.vals(pos)).cast(dt)).otherwise(acc)
          else acc
        }
      when(mFlag, matchedCase).otherwise(insertCase).as(c)
    }

    val obs = new Observation()
    val result = j
      .observe(obs,
        sum(when(isMatched && (midx >= 0) && !isDelete, 1L).otherwise(0L))
          .as("updated"),
        sum(when(isMatched && isDelete, 1L).otherwise(0L)).as("deleted"),
        sum(when(sFlag && !mFlag && (nidx >= 0), 1L).otherwise(0L))
          .as("inserted"))
      .where(keep)
      .select(tCols.map(valueFor): _*)
    Plan(result, obs, dupCheck(spark, p, srcRaw), srcRaw)
  }

  final case class PrunedPlan(overwrite: DataFrame, obsUpdated: Observation,
                              inserts: DataFrame, obsInserted: Observation,
                              obsParts: Option[Observation])

  /** The partition-scoped merge (the UPDATE/DELETE pruned-CoW shape,
    * for MERGEs with no SET on a partition column): the matched half
    * runs as a LEFT join of ONLY the affected partitions
    * (`restrictTo`) against the source; matched rows are revised —
    * or, when a DELETE clause wins, dropped — and exactly those
    * partitions are dynamically overwritten. DELETE makes one
    * partition-level hazard possible that UPDATE cannot: a partition
    * whose every row is deleted produces NO output rows, so dynamic
    * overwrite never touches it and the stale files would survive.
    * `partCols` therefore drives a `survived`-partition observation on
    * the REWRITE job itself (the runDelete discipline — no second
    * scan); the engine drops affected-minus-survived partitions after
    * the overwrite. The insert half is a LEFT ANTI of the source
    * against the affected target slice (any source row matching
    * anything would have made its partition affected), appended
    * rather than overwritten. At 100 TB a batch-sized upsert rewrites
    * batch-many partitions instead of the corpus. */
  def planPruned(spark: SparkSession, p: Parsed,
                 declaredOrder: Seq[String],
                 srcRaw: DataFrame, restrictTo: Column,
                 partCols: Seq[String] = Seq.empty): PrunedPlan = {
    val tgtBase = spark.table(p.table)
    val schema = tgtBase.schema
    val tCols = schema.fieldNames.toSeq
    val insertOrder = if (declaredOrder.nonEmpty) declaredOrder else tCols

    def applicable(cond: Option[String]): Column =
      cond.map(c => coalesce(p.resolve(c), lit(false))).getOrElse(lit(true))

    // ---- overwrite half: affected target partitions LEFT JOIN source
    val src = srcRaw.withColumn("__sm", lit(true)).alias(p.sAlias)
    val tgt = tgtBase.where(restrictTo).alias(p.tAlias)
    val j = tgt.join(src, p.resolve(p.onCond), "left_outer")
    val isMatched = coalesce(col("__sm"), lit(false))
    val midx = when(isMatched,
      p.matched.zipWithIndex.foldRight(lit(-1): Column) {
        case ((cl, i), acc) => when(applicable(cl.cond), lit(i)).otherwise(acc)
      }).otherwise(lit(-1))
    val deleteIdxs = p.matched.zipWithIndex.collect {
      case (Matched(_, None), i) => i }
    val isDelete =
      if (deleteIdxs.isEmpty) lit(false)
      else midx.isInCollection(deleteIdxs)
    def updatedValue(c: String): Column = {
      val dt = schema(c).dataType
      p.matched.zipWithIndex.foldLeft(col(s"${p.tAlias}.$c")) {
        case (acc, (Matched(_, Some(sets)), i)) =>
          sets.find(_._1.equalsIgnoreCase(c)) match {
            case Some((_, v)) =>
              when(midx === i, p.resolve(v).cast(dt)).otherwise(acc)
            case None => acc
          }
        case (acc, _) => acc
      }.as(c)
    }
    val obsU = new Observation()
    val overwrite0 = j
      .observe(obsU,
        sum(when(isMatched && (midx >= 0) && !isDelete, 1L).otherwise(0L))
          .as("updated"),
        sum(when(isMatched && isDelete, 1L).otherwise(0L)).as("deleted"))
      .where(!(isMatched && isDelete))
      .select(tCols.map(updatedValue): _*)
    // survived partitions observed AFTER the delete filter: exactly
    // the partitions the dynamic overwrite will write
    val obsP =
      if (partCols.isEmpty) None
      else Some(new Observation())
    val overwrite = obsP match {
      case Some(o) => overwrite0.observe(o,
        collect_set(struct(partCols.map(col): _*)).as("survived"))
      case None => overwrite0
    }

    // ---- insert half: source rows matching NO target row, appended.
    // The anti-join's target scan is pruned to the affected
    // partitions: a source row matching ANY target row made that
    // row's partition affected, so anti-vs-affected == anti-vs-full.
    val srcAnti = srcRaw.alias(p.sAlias)
      .join(tgtBase.where(restrictTo).alias(p.tAlias), p.resolve(p.onCond),
        "left_anti")
    val nidx = p.notMatched.zipWithIndex.foldRight(lit(-1): Column) {
      case ((cl, i), acc) => when(applicable(cl.cond), lit(i)).otherwise(acc)
    }
    def insertValue(c: String): Column = {
      val dt = schema(c).dataType
      p.notMatched.zipWithIndex
        .foldLeft(lit(null).cast(dt): Column) { case (acc, (cl, i)) =>
          val cols = if (cl.cols.isEmpty) insertOrder else cl.cols
          val pos = cols.indexWhere(_.equalsIgnoreCase(c))
          if (pos >= 0 && pos < cl.vals.length)
            when(col("__nidx") === i, p.resolve(cl.vals(pos)).cast(dt)).otherwise(acc)
          else acc
        }.as(c)
    }
    val obsI = new Observation()
    val inserts = srcAnti
      .withColumn("__nidx", nidx)
      .where(col("__nidx") >= 0)
      .observe(obsI, count(lit(1)).as("inserted"))
      .select(tCols.map(insertValue): _*)
    PrunedPlan(overwrite, obsU, inserts, obsI, obsP)
  }
}
