package graft.plans

import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, Cast, Divide, Expression, Literal, NamedExpression, PlanExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, ApproximatePercentile, Average, Count, HyperLogLogPlusPlus, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.{DoubleType, LongType}

/** TRANSPARENT materialized-view rewrite (the StarRocks MV / Calcite
  * materialized-query-table feature): a registered MV is an aggregate
  * over a parquet source; when a query plans the SAME aggregate shape
  * over that source, the optimizer swaps the scan onto the
  * (pre-aggregated, usually orders-of-magnitude smaller) MV table —
  * the query text does not change, the speedup is free.
  *
  * Two match levels, checked in [[MvRewriteRule]]:
  *  - EXACT: query group-by set == MV group-by set → the aggregate
  *    collapses to a Project over the MV scan (zero shuffles);
  *  - ROLLUP: query group-by ⊂ MV group-by and every aggregate is
  *    re-aggregable → re-aggregate the MV (count(*) → sum(mv_cnt),
  *    count(x) → sum(mv_cnt_x), sum → sum, min → min, max → max,
  *    avg(x) → sum(mv_sum_x)/sum(mv_cnt_x) when the MV stores BOTH
  *    halves — averaging averages would be wrong, the sum/count
  *    decomposition is the classical fix) — shuffle ∝ MV rows, not
  *    source rows. Sum rollup is restricted to long/double MV columns:
  *    a decimal re-sum would widen the type out from under the query.
  *
  * A source may register SEVERAL MVs (day-level and month-level
  * rollups of the same fact table is the standard layout); the rule
  * rewrites against the cheapest matching one — exact group-set match
  * first (zero re-aggregated rows), then fewest MV rows (recorded at
  * register time).
  *
  * Scope guards (all conservative — an unmatched query simply runs
  * against the source): group-bys must be bare columns, aggregates
  * must be count(literal) / sum / min / max over bare columns, the
  * aggregate must sit directly on the scan (optionally through a
  * column-pruning Project). A Filter underneath the aggregate is
  * allowed ONLY when its predicate references MV group columns
  * exclusively (the date-partition-pruning shape: `WHERE dt BETWEEN …
  * GROUP BY region`): such a predicate is constant within every MV
  * group, so filtering MV rows is exactly filtering source rows before
  * aggregation — the rewrite re-applies it ABOVE the MV scan. Any
  * predicate touching a non-group column disqualifies, since MV rows
  * pre-aggregated the unfiltered source.
  *
  * Freshness: [[register]] pins the MV's CURRENT file listing (the
  * Delta/Iceberg snapshot-pinning convention); after refreshing the MV
  * table, re-register. Maintenance itself is
  * [[graft.cdc.MaterializedAgg]]'s job — this rule is the read side.
  *
  * JOIN+AGG MVs ([[registerJoin]]): the same two match levels over
  * `Aggregate(Join(scanL, scanR, Inner, equi-keys))` — the StarRocks
  * multi-table sync-MV read side, with [[graft.cdc.MaterializedJoin]]
  * as the write side. The rewrite step is shared with the single-table
  * path (names resolve against the MV identically); the extra match
  * conditions are the equi-key-pair set equality and a referenced-name
  * unambiguity guard (see [[MvRewriteRule.rewriteJoinAgg]]).
  *
  * Output attribute ids are preserved exprId-for-exprId, so parent
  * operators (sorts, joins, projections above the aggregate) resolve
  * against the rewritten subtree untouched.
  */
object MvRewrite {

  sealed trait AggKind
  case object CountStar extends AggKind
  final case class SumOf(col: String) extends AggKind
  final case class MinOf(col: String) extends AggKind
  final case class MaxOf(col: String) extends AggKind
  /** count of NON-NULL values of `col` — what `avg(col)` needs as its
    * divisor (CountStar would miscount when `col` is nullable). */
  final case class CountOf(col: String) extends AggKind
  /** The MV column stores a KMV distinct-count sketch of source
    * `col` ([[graft.streaming.KmvMv]]'s `sk`): answers the query's
    * `approx_count_distinct(col)` via kmv-merge + the bottom-k
    * estimator. NOTE the estimator substitution — the rewritten
    * query returns the KMV estimate where the raw scan would return
    * HLL++'s; both are approximate answers to the same question and
    * carry comparable error at default precision (the StarRocks
    * HLL-column contract: `approx_count_distinct` over an HLL column
    * serves from the sketch, not the raw rows). */
  final case class KmvSketchOf(col: String) extends AggKind
  /** The MV column stores a Qsk percentile sketch of source `col`
    * ([[graft.streaming.QskMv]]'s `sk`): answers the query's
    * `percentile_approx(col, q)` via qsk-merge + quantile extraction
    * (same estimator-substitution caveat as [[KmvSketchOf]], vs
    * Spark's KLL-ish ApproximatePercentile). */
  final case class QskSketchOf(col: String) extends AggKind
  /** The MV column stores an EXACT Rbm bitmap of source `col`
    * ([[graft.streaming.RbmMv]]'s `sk`): answers the query's
    * `count(DISTINCT col)` via bitmap-union + cardinality — EXACTLY
    * (no estimator substitution; the rewritten answer is
    * value-identical to the raw scan's, the StarRocks BITMAP-column
    * contract). Requires non-null integer ids — see RbmMv. */
  final case class RbmSketchOf(col: String) extends AggKind

  private[plans] def isSketch(k: AggKind): Boolean = k match {
    case _: KmvSketchOf | _: QskSketchOf | _: RbmSketchOf => true
    case _ => false
  }

  /** One registered MV: `aggs` maps each MV output column name to the
    * aggregate (over the SOURCE) it stores. `rows` is the MV's row
    * count at register time — the re-aggregation cost used to choose
    * among multiple matching MVs. */
  final case class MvDef(sourcePath: String, mvPath: String,
                         groupCols: Seq[String],
                         aggs: Map[String, AggKind],
                         mvPlan: LogicalPlan,
                         rows: Long)

  // process-wide registry keyed by normalized source path, carrying
  // ALL registered MVs per source keyed by MV path (specs and local
  // sessions share one JVM; a real deployment would scope by catalog).
  // TrieMap: registrations race-free under concurrent use.
  private val registry =
    scala.collection.concurrent.TrieMap.empty[String, Map[String, MvDef]]

  private[plans] def normalize(p: String): String =
    new org.apache.hadoop.fs.Path(p).toUri.getPath

  /** Register an MV for `sourcePath` — ADDS to the source's MV set
    * (re-registering the same mvPath replaces that entry: the
    * refresh-then-re-pin cycle). Resolves and PINS the MV table's
    * current snapshot, and records its row count — summed from the
    * parquet footers — as the candidate-selection cost. */
  def register(spark: SparkSession, sourcePath: String, mvPath: String,
               groupCols: Seq[String], aggs: Map[String, AggKind]): Unit =
    registerRead(spark, sourcePath, spark.read.parquet(mvPath), mvPath, groupCols, aggs)

  // [[register]] over `mvDf`, a read of `mvPath` — a publish passes
  // the schema it wrote, so no inference job runs
  private def registerRead(spark: SparkSession, sourcePath: String,
                           mvDf: org.apache.spark.sql.DataFrame, mvPath: String,
                           groupCols: Seq[String], aggs: Map[String, AggKind]): Unit = {
    require(groupCols.nonEmpty, "MV must group by at least one column")
    val plan = mvDf.queryExecution.analyzed
    val mvCols = plan.output.map(_.name).toSet
    (groupCols ++ aggs.keys).foreach(c =>
      require(mvCols.contains(c), s"MV table $mvPath lacks column $c"))
    val rows = rowsOf(spark, mvDf, mvPath)
    val src = normalize(sourcePath)
    val entry = MvDef(src, mvPath, groupCols, aggs, plan, rows)
    registry.updateWith(src) {
      case Some(m) => Some(m + (mvPath -> entry))
      case None    => Some(Map(mvPath -> entry))
    }
  }

  /** The MV's row count from its footers (exact, zero jobs); a count
    * job past [[graft.sinks.Footers.MaxFiles]] files. */
  private def rowsOf(spark: SparkSession, mvDf: org.apache.spark.sql.DataFrame,
                     mvPath: String): Long =
    graft.sinks.Footers.rowCount(spark, mvPath).getOrElse(mvDf.count())

  // ---- versioned snapshot publish (shared by the single-table sketch
  // path and the join path) ------------------------------------------

  private val VerRe = "v(\\d+)".r

  private def genOf(path: String): Option[Long] = {
    val name = path.substring(path.lastIndexOf('/') + 1)
    name match { case VerRe(n) => Some(n.toLong); case _ => None }
  }

  /** PUBLISH one new snapshot generation under `snapshotDir` and swap
    * the registration onto it — the engine-agnostic core of the
    * StarRocks "publish version" MV lifecycle:
    *
    *  - each publish lands in a FRESH versioned directory
    *    `snapshotDir/v<N>`, created ATOMICALLY (`fs.mkdirs` returning
    *    false → another publisher claimed N, retry with N+1), so two
    *    racing publishers of one snapshotDir can never overwrite each
    *    other's files mid-write;
    *  - a publish that fails after creating its dir (data write or
    *    stamp) DELETES that dir before rethrowing — a dead v<N> must
    *    not survive to confuse later retention (it would otherwise be
    *    mistaken for the serving generation);
    *  - the freshness stamp (`_publish.json`: the maintained MV root
    *    and its TxLog version at publish time) makes staleness a
    *    CHECKABLE fact ([[publishStale]]) instead of a worker's memory;
    *  - the registration manifest (`_registration.json`) makes the
    *    registration itself DURABLE: a restarted session recovers every
    *    published MV via [[registerAll]] without hand re-registration
    *    (StarRocks MVs are catalog objects, not session state);
    *  - retention is keyed to the generations that were actually
    *    REGISTERED (in this session's registry, or failing that the
    *    on-disk manifest — the serving generation across a restart):
    *    the new generation and the just-deregistered one(s) are kept
    *    (in-flight queries planned against the old MvDef keep reading
    *    their pinned listing); everything else is GC'd — readers of a
    *    generation deregistered a whole publish cycle ago have
    *    finished. Keying retention to max-existing instead would, after
    *    one failed publish, delete the generation in-flight readers
    *    were planned against.
    *
    * Returns the new generation's data dir. `registeredGens` must be
    * the generation numbers registered for this base BEFORE the swap;
    * `registerFn` installs the new dir, given a read of it under the
    * schema just written (no inference, and the row count comes from
    * the footers: the swap runs no job); `deregisterOld` removes the
    * superseded registrations. The generation's schema is not put in
    * [[graft.SchemaCache]]: a failed publish's number is reused. */
  private def publishVersioned(spark: SparkSession, snapshotDir: String,
                               mvFrame: org.apache.spark.sql.DataFrame,
                               mvRoot: Option[String],
                               registeredGens: Set[Long],
                               registrationJson: String => String,
                               registerFn: (String, org.apache.spark.sql.DataFrame) => Unit,
                               deregisterOld: () => Unit): String = {
    val base = new org.apache.hadoop.fs.Path(snapshotDir)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val existing: Seq[Long] =
      if (fs.exists(base))
        fs.listStatus(base).toSeq.filter(_.isDirectory)
          .flatMap(st => genOf(st.getPath.getName))
      else Nil
    // the generation serving before this publish: this session's
    // registration if any, else the one the on-disk manifest records
    // (a restarted publisher must retain what restarted READERS may
    // have recovered via registerAll)
    val prevServing: Set[Long] =
      if (registeredGens.nonEmpty) registeredGens
      else readRegistrationGen(fs, base).toSet
    var gen = existing.foldLeft(0L)(math.max) + 1
    var genPath = new org.apache.hadoop.fs.Path(base, s"v$gen")
    while (!fs.mkdirs(genPath)) { // claimed concurrently — take the next
      gen += 1
      genPath = new org.apache.hadoop.fs.Path(base, s"v$gen")
    }
    val dataDir = genPath.toString
    try {
      mvFrame.write.mode("overwrite").parquet(dataDir)
      mvRoot.foreach { root =>
        val v = graft.sinks.TxLog.current(spark, root).map(_.version)
          .getOrElse(throw new IllegalStateException(
            s"publish: no committed MV under $root"))
        writeSmallFile(fs, new org.apache.hadoop.fs.Path(base, "_publish.json"),
          s"""{"mv_root":"$root","mv_version":$v}""")
      }
      writeSmallFile(fs,
        new org.apache.hadoop.fs.Path(base, "_registration.json"),
        registrationJson(dataDir))
    } catch {
      case t: Throwable =>
        try { fs.delete(genPath, true); () } catch { case _: Throwable => () }
        throw t
    }
    // swap: register the new generation, then drop the previous
    // generation's registration (new queries plan against v<gen>;
    // already-planned queries keep reading their pinned listing)
    registerFn(dataDir, spark.read.schema(mvFrame.schema).parquet(dataDir))
    deregisterOld()
    val keep = prevServing + gen
    existing.filterNot(keep).foreach { n =>
      fs.delete(new org.apache.hadoop.fs.Path(base, s"v$n"), true); ()
    }
    dataDir
  }

  private def writeSmallFile(fs: org.apache.hadoop.fs.FileSystem,
                             p: org.apache.hadoop.fs.Path, txt: String): Unit = {
    val out = fs.create(p, true)
    try out.write(txt.getBytes("UTF-8")) finally out.close()
  }

  private def readSmallFile(fs: org.apache.hadoop.fs.FileSystem,
                            p: org.apache.hadoop.fs.Path): Option[String] =
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(), "UTF-8")) finally in.close()
    }

  private def readRegistrationGen(fs: org.apache.hadoop.fs.FileSystem,
                                  base: org.apache.hadoop.fs.Path): Option[Long] =
    readSmallFile(fs, new org.apache.hadoop.fs.Path(base, "_registration.json"))
      .flatMap { txt =>
        import org.json4s._
        scala.util.Try(org.json4s.jackson.JsonMethods.parse(txt)).toOption
          .flatMap(j => (j \ "gen") match {
            case JInt(n)  => Some(n.toLong)
            case JLong(n) => Some(n)
            case _        => None
          })
      }

  /** PUBLISH a transactional sketch MV for transparent rewrite: dump
    * `mvFrame` (a [[graft.streaming.KmvMv]]/[[graft.streaming.QskMv]]
    * `readMv` view, or any frame of (groupCols…, sketch/state cols))
    * as a plain-parquet snapshot under `snapshotDir` and register
    * THAT — the snapshot is the pinned read surface, exactly the
    * path-based contract [[register]] already enforces (refresh the
    * MV → publish again to re-pin; the StarRocks MV "publish version"
    * shape). The snapshot is MV-row-sized (one bounded sketch per
    * group), so the dump is result-scale work, never a source scan.
    * See [[publishVersioned]] for the serve-while-refresh, durability
    * and retention contract. Single WRITER per snapshotDir per
    * logical MV (the SketchMv writer discipline); racing publishers
    * cannot corrupt each other (atomic generation claim) but the last
    * manifest written wins the registration.
    */
  def registerSketchSnapshot(spark: SparkSession, sourcePath: String,
                             mvFrame: org.apache.spark.sql.DataFrame,
                             snapshotDir: String, groupCols: Seq[String],
                             aggs: Map[String, AggKind],
                             mvRoot: Option[String] = None): Unit = {
    val basePrefix = normalize(snapshotDir) + "/v"
    val prevPaths = lookup(normalize(sourcePath)).map(_.mvPath)
      .filter(p => normalize(p).startsWith(basePrefix))
    publishVersioned(spark, snapshotDir, mvFrame, mvRoot,
      registeredGens = prevPaths.flatMap(p => genOf(normalize(p))).toSet,
      registrationJson = dataDir => registrationJsonTable(
        sourcePath, dataDir, groupCols, aggs, mvRoot),
      registerFn = (dataDir, mvDf) =>
        registerRead(spark, sourcePath, mvDf, dataDir, groupCols, aggs),
      deregisterOld = () =>
        prevPaths.foreach(old => deregister(sourcePath, old)))
    ()
  }

  /** [[registerSketchSnapshot]]'s JOIN-MV twin — the versioned publish
    * + refresh lifecycle for a MULTI-TABLE MV (the StarRocks async
    * multi-table MV: refreshed by [[graft.cdc.MaterializedJoin]]
    * maintenance commits, re-published here, served transparently by
    * [[MvRewriteRule.rewriteJoinAgg]] while the refresh runs).
    * `mvFrame` is the maintained view (groupCols…, agg cols);
    * `mvRoot` its transactional root, stamped so [[publishStale]]
    * flips when a maintenance commit lands after this publish. */
  def registerJoinSnapshot(spark: SparkSession, paths: Seq[String],
                           joinPairs: Seq[(String, String)],
                           mvFrame: org.apache.spark.sql.DataFrame,
                           snapshotDir: String, groupCols: Seq[String],
                           aggs: Map[String, AggKind],
                           mvRoot: Option[String] = None): Unit = {
    val basePrefix = normalize(snapshotDir) + "/v"
    val key = paths.map(normalize).toSet
    val prevPaths = joinRegistry.get(key).map(_.keys.toSeq).getOrElse(Nil)
      .filter(p => normalize(p).startsWith(basePrefix))
    publishVersioned(spark, snapshotDir, mvFrame, mvRoot,
      registeredGens = prevPaths.flatMap(p => genOf(normalize(p))).toSet,
      registrationJson = dataDir => registrationJsonJoin(
        paths, joinPairs, dataDir, groupCols, aggs, mvRoot),
      registerFn = (dataDir, mvDf) =>
        registerJoinRead(spark, paths, joinPairs, mvDf, dataDir, groupCols, aggs),
      deregisterOld = () =>
        prevPaths.foreach(old => deregisterJoinMv(paths, old)))
    ()
  }

  /** True when a stamped snapshot is BEHIND its sketch-MV root (a
    * maintainTx commit landed after publish) — the re-publish signal
    * an MV refresh loop polls. Unstamped snapshots (no mvRoot given
    * at publish) and missing roots report false: no claim is made,
    * matching the classic register contract (pin + re-register). */
  def publishStale(spark: SparkSession, snapshotDir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(snapshotDir, "_publish.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return false
    val in = fs.open(p)
    val txt = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    val m = """\{"mv_root":"(.+)","mv_version":(-?\d+)\}""".r
    txt match {
      case m(root, v) =>
        graft.sinks.TxLog.current(spark, root).exists(_.version > v.toLong)
      case _ => false
    }
  }

  // ---- JOIN+AGG MVs (the StarRocks multi-table sync-MV read side:
  // [[graft.cdc.MaterializedJoin]] maintains the view incrementally,
  // this registry lets a user's literal `SELECT g…, agg… FROM T1 JOIN
  // T2 [JOIN T3 …] ON keys GROUP BY g…` serve from it transparently).
  // The MV stores the aggregate OF THE INNER JOIN — group columns and
  // aggregate inputs are join-output columns, named by their
  // (unambiguous) source names, exactly MaterializedJoin's "non-join
  // columns must be distinct across the tables" contract. Any number
  // of tables: the matcher flattens an arbitrary tree of inner
  // equi-joins, so a 3-table star (fact ⋈ dim ⋈ dim) matches however
  // the optimizer shaped or reordered the tree. Join identity is the
  // (path SET, unordered-key-pair SET): inner joins commute and
  // associate, and column names are globally unique by the contract,
  // so an unordered (colA, colB) name pair identifies an equi-edge
  // regardless of which side the user (or the join reorderer) put it
  // on. Sketch agg kinds are not accepted here (the sketch
  // maintainers are single-table). ----

  /** One registered join MV: table-path set + normalized (unordered)
    * equi-key-pair set, plus the same (groupCols, aggs, pinned plan,
    * rows) carrier the single-table rewrite uses — the rewrite step
    * itself is shared. */
  final case class JoinMvDef(pairs: Set[(String, String)], mv: MvDef)

  /** Unordered pair normal form: lexicographic (names are unique
    * across the joined tables by contract, so this is injective). */
  private[plans] def normPair(a: String, b: String): (String, String) =
    if (a <= b) (a, b) else (b, a)

  private val joinRegistry =
    scala.collection.concurrent.TrieMap
      .empty[Set[String], Map[String, JoinMvDef]]

  /** Register a join MV over `paths` (2+ parquet tables) on
    * `joinPairs` equi keys (each pair names columns of any two of the
    * tables; orientation is irrelevant). ADDS to the path-set's MV
    * set keyed by mvPath, like [[register]]; pins the MV snapshot and
    * records its row count the same way. */
  def registerJoin(spark: SparkSession, paths: Seq[String],
                   joinPairs: Seq[(String, String)], mvPath: String,
                   groupCols: Seq[String], aggs: Map[String, AggKind]): Unit =
    registerJoinRead(spark, paths, joinPairs, spark.read.parquet(mvPath), mvPath,
      groupCols, aggs)

  private def registerJoinRead(spark: SparkSession, paths: Seq[String],
                               joinPairs: Seq[(String, String)],
                               mvDf: org.apache.spark.sql.DataFrame, mvPath: String,
                               groupCols: Seq[String], aggs: Map[String, AggKind]): Unit = {
    require(paths.size >= 2, "join MV needs at least two tables")
    require(joinPairs.size >= paths.size - 1,
      "join MV needs at least N-1 equi-key pairs to connect N tables")
    require(groupCols.nonEmpty, "join MV must group by at least one column")
    require(!aggs.values.exists(isSketch),
      "join MVs accept classic aggregate kinds only")
    val key = paths.map(normalize).toSet
    require(key.size == paths.size, "join MV table paths must be distinct")
    val plan = mvDf.queryExecution.analyzed
    val mvCols = plan.output.map(_.name).toSet
    (groupCols ++ aggs.keys).foreach(c =>
      require(mvCols.contains(c), s"join MV table $mvPath lacks column $c"))
    val rows = rowsOf(spark, mvDf, mvPath)
    val entry = JoinMvDef(
      joinPairs.map { case (a, b) => normPair(a, b) }.toSet,
      MvDef(key.toSeq.sorted.mkString(" JOIN "), mvPath, groupCols, aggs,
        plan, rows))
    joinRegistry.updateWith(key) {
      case Some(m) => Some(m + (mvPath -> entry))
      case None    => Some(Map(mvPath -> entry))
    }
  }

  /** Two-table convenience form (the common fact ⋈ dim case). */
  def registerJoin(spark: SparkSession, leftPath: String, rightPath: String,
                   joinPairs: Seq[(String, String)], mvPath: String,
                   groupCols: Seq[String], aggs: Map[String, AggKind]): Unit =
    registerJoin(spark, Seq(leftPath, rightPath), joinPairs, mvPath,
      groupCols, aggs)

  /** Remove every join MV registered for this table set (any order). */
  def deregisterJoin(paths: String*): Unit = {
    joinRegistry.remove(paths.map(normalize).toSet)
    ()
  }

  /** Remove ONE join MV (by mvPath) without touching its siblings —
    * the publish swap's deregistration ([[deregister]]'s join twin). */
  def deregisterJoinMv(paths: Seq[String], mvPath: String): Unit =
    joinRegistry.updateWith(paths.map(normalize).toSet) {
      case Some(m) =>
        val rest = m - mvPath
        if (rest.isEmpty) None else Some(rest)
      case None => None
    }

  // ---- durable registrations ([[registerAll]] recovery) -------------
  //
  // A registration routes queries to a published snapshot; StarRocks
  // MVs are catalog objects that survive restarts, so the routing info
  // must too. Every publish writes `_registration.json` next to its
  // snapshot generations; [[registerAll]] scans a root for these
  // manifests and re-registers each MV against its recorded current
  // generation — a restarted session serves every committed MV with
  // one startup call instead of hand re-registration.

  private def aggKindJson(k: AggKind): org.json4s.JValue = {
    import org.json4s.JsonDSL._
    k match {
      case CountStar      => ("kind" -> "count_star"): org.json4s.JObject
      case SumOf(c)       => ("kind" -> "sum") ~ ("of" -> c)
      case MinOf(c)       => ("kind" -> "min") ~ ("of" -> c)
      case MaxOf(c)       => ("kind" -> "max") ~ ("of" -> c)
      case CountOf(c)     => ("kind" -> "count") ~ ("of" -> c)
      case KmvSketchOf(c) => ("kind" -> "kmv") ~ ("of" -> c)
      case QskSketchOf(c) => ("kind" -> "qsk") ~ ("of" -> c)
      case RbmSketchOf(c) => ("kind" -> "rbm") ~ ("of" -> c)
    }
  }

  private def aggKindOf(kind: String, of: Option[String]): AggKind =
    (kind, of) match {
      case ("count_star", _)    => CountStar
      case ("sum", Some(c))     => SumOf(c)
      case ("min", Some(c))     => MinOf(c)
      case ("max", Some(c))     => MaxOf(c)
      case ("count", Some(c))   => CountOf(c)
      case ("kmv", Some(c))     => KmvSketchOf(c)
      case ("qsk", Some(c))     => QskSketchOf(c)
      case ("rbm", Some(c))     => RbmSketchOf(c)
      case _ => throw new IllegalArgumentException(
        s"unreadable agg kind in registration manifest: $kind/$of")
    }

  private def aggsJson(aggs: Map[String, AggKind]): org.json4s.JValue = {
    import org.json4s.JsonDSL._
    org.json4s.JArray(aggs.toList.sortBy(_._1).map { case (c, k) =>
      org.json4s.JObject("col" -> org.json4s.JString(c)) merge
        aggKindJson(k).asInstanceOf[org.json4s.JObject]
    })
  }

  private def registrationJsonTable(sourcePath: String, dataDir: String,
                                    groupCols: Seq[String],
                                    aggs: Map[String, AggKind],
                                    mvRoot: Option[String]): String = {
    import org.json4s.JsonDSL._
    import org.json4s.jackson.JsonMethods
    val j = ("kind" -> "table") ~ ("source" -> sourcePath) ~
      ("gen" -> genOf(normalize(dataDir)).getOrElse(0L)) ~
      ("mv_path" -> dataDir) ~ ("group_cols" -> groupCols.toList) ~
      ("mv_root" -> mvRoot) ~ ("aggs" -> aggsJson(aggs))
    JsonMethods.compact(JsonMethods.render(j))
  }

  private def registrationJsonJoin(paths: Seq[String],
                                   joinPairs: Seq[(String, String)],
                                   dataDir: String, groupCols: Seq[String],
                                   aggs: Map[String, AggKind],
                                   mvRoot: Option[String]): String = {
    import org.json4s.JsonDSL._
    import org.json4s.jackson.JsonMethods
    val j = ("kind" -> "join") ~ ("paths" -> paths.toList) ~
      ("pairs" -> joinPairs.toList.map(p => List(p._1, p._2))) ~
      ("gen" -> genOf(normalize(dataDir)).getOrElse(0L)) ~
      ("mv_path" -> dataDir) ~ ("group_cols" -> groupCols.toList) ~
      ("mv_root" -> mvRoot) ~ ("aggs" -> aggsJson(aggs))
    JsonMethods.compact(JsonMethods.render(j))
  }

  /** Re-register ONE published MV from its on-disk manifest; true when
    * a manifest was found and its recorded snapshot generation still
    * exists. */
  def registerFromManifest(spark: SparkSession, snapshotDir: String): Boolean = {
    import org.json4s._
    val base = new org.apache.hadoop.fs.Path(snapshotDir)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val txt = readSmallFile(fs,
      new org.apache.hadoop.fs.Path(base, "_registration.json"))
      .getOrElse(return false)
    val j = org.json4s.jackson.JsonMethods.parse(txt)
    def str(v: JValue): String = v match {
      case JString(s) => s
      case other => throw new IllegalArgumentException(
        s"bad registration manifest under $snapshotDir: $other")
    }
    def strs(v: JValue): Seq[String] = v match {
      case JArray(xs) => xs.map(str)
      case _ => Nil
    }
    val mvPath = str(j \ "mv_path")
    if (!fs.exists(new org.apache.hadoop.fs.Path(mvPath))) return false
    val groupCols = strs(j \ "group_cols")
    val aggs: Map[String, AggKind] = (j \ "aggs") match {
      case JArray(entries) => entries.map { e =>
        val of = (e \ "of") match { case JString(s) => Some(s); case _ => None }
        str(e \ "col") -> aggKindOf(str(e \ "kind"), of)
      }.toMap
      case _ => Map.empty
    }
    str(j \ "kind") match {
      case "table" =>
        register(spark, str(j \ "source"), mvPath, groupCols, aggs)
      case "join" =>
        val pairs = (j \ "pairs") match {
          case JArray(ps) => ps.map { case JArray(List(a, b)) => (str(a), str(b))
            case other => throw new IllegalArgumentException(
              s"bad pair in registration manifest: $other") }
          case _ => Nil
        }
        registerJoin(spark, strs(j \ "paths"), pairs, mvPath, groupCols, aggs)
      case "topk" =>
        val k = (j \ "k") match {
          case JInt(n)  => n.toInt
          case JLong(n) => n.toInt
          case other => throw new IllegalArgumentException(
            s"bad k in top-k registration manifest under $snapshotDir: $other")
        }
        registerTopK(spark, str(j \ "source"), mvPath, groupCols,
          strs(j \ "key_cols"), str(j \ "value_col"), k)
      case other => throw new IllegalArgumentException(
        s"unknown registration kind '$other' under $snapshotDir")
    }
    true
  }

  /** STARTUP RECOVERY: scan `root` (bounded depth) for published-MV
    * registration manifests and re-register every one whose recorded
    * snapshot generation still exists — after this, a fresh session
    * transparently serves every MV committed before the restart.
    * Returns the recovered snapshotDirs. */
  def registerAll(spark: SparkSession, root: String,
                  maxDepth: Int = 3): Seq[String] = {
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(rootPath)) return Nil
    def scan(p: org.apache.hadoop.fs.Path, depth: Int): Seq[String] = {
      val here =
        if (fs.exists(new org.apache.hadoop.fs.Path(p, "_registration.json")) &&
          registerFromManifest(spark, p.toString)) Seq(p.toString)
        else Nil
      val below =
        if (depth <= 0) Nil
        else fs.listStatus(p).toSeq.filter(_.isDirectory)
          .flatMap(st => scan(st.getPath, depth - 1))
      here ++ below
    }
    scan(rootPath, maxDepth)
  }

  /** Join MVs matching (path set, normalized equi-pair set). */
  private[plans] def lookupJoin(paths: Set[String],
                                pairs: Set[(String, String)]): Seq[MvDef] =
    joinRegistry.get(paths).map(_.values.toSeq).getOrElse(Nil)
      .filter(_.pairs == pairs).map(_.mv)

  private[plans] def joinIsEmpty: Boolean = joinRegistry.isEmpty

  def deregister(sourcePath: String): Unit = registry.remove(normalize(sourcePath))

  /** Remove ONE MV for the source (e.g. a dropped month-level rollup)
    * without deregistering its siblings. */
  def deregister(sourcePath: String, mvPath: String): Unit =
    registry.updateWith(normalize(sourcePath)) {
      case Some(m) =>
        val rest = m - mvPath
        if (rest.isEmpty) None else Some(rest)
      case None => None
    }
  def clear(): Unit = { registry.clear(); joinRegistry.clear(); topkRegistry.clear() }
  private[plans] def lookup(path: String): Seq[MvDef] =
    registry.get(path).map(_.values.toSeq).getOrElse(Nil)
  private[plans] def isEmpty: Boolean = registry.isEmpty

  // ---- TOP-K (materialized TOPN) MVs -------------------------------

  /** One registered TOP-K MV: the MV table stores the top `k` rows per
    * `groupCols` of the source, ordered `valueCol` DESC then `keyCols`
    * ASC (ties), carrying the SOURCE's column names. Maintained by
    * [[graft.cdc.MaterializedTopK]]; served by
    * [[MvRewriteRule.rewriteTopK]] when a query plans the
    * `row_number() OVER (PARTITION BY g ORDER BY v DESC, keys) ≤ c`
    * TOPN shape over the source with c ≤ k. */
  final case class TopKDef(sourcePath: String, mvPath: String,
                           groupCols: Seq[String], keyCols: Seq[String],
                           valueCol: String, k: Int, mvPlan: LogicalPlan)

  private val topkRegistry =
    scala.collection.concurrent.TrieMap.empty[String, Map[String, TopKDef]]

  /** Register a TOP-K MV for `sourcePath` — ADDS to the source's
    * top-k MV set (re-registering the same mvPath replaces it). Pins
    * the MV table's current snapshot like [[register]]. */
  def registerTopK(spark: SparkSession, sourcePath: String, mvPath: String,
                   groupCols: Seq[String], keyCols: Seq[String],
                   valueCol: String, k: Int): Unit =
    registerTopKRead(sourcePath, spark.read.parquet(mvPath), mvPath, groupCols,
      keyCols, valueCol, k)

  private def registerTopKRead(sourcePath: String, mvDf: org.apache.spark.sql.DataFrame,
                               mvPath: String, groupCols: Seq[String],
                               keyCols: Seq[String], valueCol: String, k: Int): Unit = {
    require(k >= 1, s"registerTopK: need k >= 1, got $k")
    require(groupCols.nonEmpty && keyCols.nonEmpty, "registerTopK: need group and key columns")
    val plan = mvDf.queryExecution.analyzed
    val mvCols = plan.output.map(_.name).toSet
    (groupCols ++ keyCols :+ valueCol).foreach(c =>
      require(mvCols.contains(c), s"top-k MV table $mvPath lacks column $c"))
    val src = normalize(sourcePath)
    val entry = TopKDef(src, mvPath, groupCols, keyCols, valueCol, k, plan)
    topkRegistry.updateWith(src) {
      case Some(m) => Some(m + (mvPath -> entry))
      case None    => Some(Map(mvPath -> entry))
    }
  }

  def deregisterTopK(sourcePath: String): Unit =
    topkRegistry.remove(normalize(sourcePath))

  /** Remove ONE top-k MV for the source without touching siblings. */
  def deregisterTopK(sourcePath: String, mvPath: String): Unit =
    topkRegistry.updateWith(normalize(sourcePath)) {
      case Some(m) =>
        val rest = m - mvPath
        if (rest.isEmpty) None else Some(rest)
      case None => None
    }

  /** [[registerSketchSnapshot]]'s TOP-K twin: versioned publish +
    * DURABLE registration + serving-generation retention for a
    * maintained top-k MV (`mvFrame` =
    * [[graft.cdc.MaterializedTopK]]'s view with the rank column
    * dropped — groupCols ++ keyCols :+ valueCol under the source's
    * names). Each publish lands in a fresh `snapshotDir/v<N>`, writes
    * `_registration.json` beside it (so [[registerAll]] recovers the
    * registration after a restart), swaps the in-session registration,
    * and retains the previously SERVING generation for in-flight
    * readers. The snapshot is k·|groups| rows — result-scale work. */
  def registerTopKSnapshot(spark: SparkSession, sourcePath: String,
                           mvFrame: org.apache.spark.sql.DataFrame,
                           snapshotDir: String, groupCols: Seq[String],
                           keyCols: Seq[String], valueCol: String, k: Int,
                           mvRoot: Option[String] = None): Unit = {
    val basePrefix = normalize(snapshotDir) + "/v"
    val prevPaths = topkLookup(normalize(sourcePath)).map(_.mvPath)
      .filter(p => normalize(p).startsWith(basePrefix))
    publishVersioned(spark, snapshotDir, mvFrame, mvRoot,
      registeredGens = prevPaths.flatMap(p => genOf(normalize(p))).toSet,
      registrationJson = dataDir => registrationJsonTopK(
        sourcePath, dataDir, groupCols, keyCols, valueCol, k, mvRoot),
      registerFn = (dataDir, mvDf) =>
        registerTopKRead(sourcePath, mvDf, dataDir, groupCols, keyCols, valueCol, k),
      deregisterOld = () =>
        prevPaths.foreach(old => deregisterTopK(sourcePath, old)))
    ()
  }

  private def registrationJsonTopK(sourcePath: String, dataDir: String,
                                   groupCols: Seq[String], keyCols: Seq[String],
                                   valueCol: String, k: Int,
                                   mvRoot: Option[String]): String = {
    import org.json4s.JsonDSL._
    import org.json4s.jackson.JsonMethods
    val j = ("kind" -> "topk") ~ ("source" -> sourcePath) ~
      ("gen" -> genOf(normalize(dataDir)).getOrElse(0L)) ~
      ("mv_path" -> dataDir) ~ ("group_cols" -> groupCols.toList) ~
      ("key_cols" -> keyCols.toList) ~ ("value_col" -> valueCol) ~
      ("k" -> k) ~ ("mv_root" -> mvRoot)
    JsonMethods.compact(JsonMethods.render(j))
  }

  private[plans] def topkLookup(path: String): Seq[TopKDef] =
    topkRegistry.get(path).map(_.values.toSeq).getOrElse(Nil)
  private[plans] def topkIsEmpty: Boolean = topkRegistry.isEmpty
}

class MvRewriteRule(spark: SparkSession) extends Rule[LogicalPlan] {
  import MvRewrite._

  private def sourceOf(plan: LogicalPlan): Option[String] = plan match {
    case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
      fs.location.rootPaths.headOption.map(p => normalize(p.toString))
    case _ => None
  }

  private def bare(pl: Seq[NamedExpression]) =
    pl.forall(_.isInstanceOf[AttributeReference])

  /** The scan under the aggregate, looking through a column-pruning
    * Project (bare attributes only) and at most one deterministic
    * Filter. Returns (filter condition if any, scan). */
  private def scanOf(child: LogicalPlan): Option[(Option[Expression], LogicalPlan)] = {
    child match {
      case r: LogicalRelation => Some((None, r))
      case Project(pl, r: LogicalRelation) if bare(pl) => Some((None, r))
      case Filter(c, r: LogicalRelation) => Some((Some(c), r))
      case Project(pl, Filter(c, r: LogicalRelation)) if bare(pl) => Some((Some(c), r))
      case Filter(c, Project(pl, r: LogicalRelation)) if bare(pl) => Some((Some(c), r))
      case _ => None
    }
  }

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case org.apache.spark.sql.catalyst.expressions.And(a, b) =>
      splitConjuncts(a) ++ splitConjuncts(b)
    case other => Seq(other)
  }

  /** Flatten an arbitrary tree of INNER joins over parquet scans
    * (bare-Project and Filter shells allowed anywhere): returns the
    * scans left-to-right, every filter conjunct found in the tree,
    * and every join-condition conjunct. Any other node — an outer
    * join, a conditionless (cross) join, a non-scan leaf, a
    * transforming Project — disqualifies the whole match. */
  private def flattenInner(p: LogicalPlan)
      : Option[(Seq[LogicalPlan], Seq[Expression], Seq[Expression])] =
    p match {
      case Project(pl, q) if bare(pl) => flattenInner(q)
      case Filter(c, q) =>
        flattenInner(q).map { case (s, f, j) => (s, f ++ splitConjuncts(c), j) }
      case j: Join if j.joinType == Inner && j.condition.isDefined =>
        for {
          (ls, lf, lj) <- flattenInner(j.left)
          (rs, rf, rj) <- flattenInner(j.right)
        } yield (ls ++ rs, lf ++ rf,
          lj ++ rj ++ splitConjuncts(j.condition.get))
      case r: LogicalRelation => Some((Seq(r), Nil, Nil))
      case _ => None
    }

  /** Join-condition conjuncts as NORMALIZED equi-key name pairs: every
    * conjunct must be attr = attr with the two attrs from two
    * DIFFERENT scans (membership by exprId); anything else — non-equi
    * terms, expressions over keys, a same-table equality — is a
    * DIFFERENT join and disqualifies. */
  private def equiPairs(conds: Seq[Expression],
                        scans: Seq[LogicalPlan]): Option[Set[(String, String)]] = {
    import org.apache.spark.sql.catalyst.expressions.EqualTo
    def scanIdx(a: AttributeReference): Int =
      scans.indexWhere(_.outputSet.contains(a))
    val pairs = conds.map {
      case EqualTo(a: AttributeReference, b: AttributeReference) =>
        val (ia, ib) = (scanIdx(a), scanIdx(b))
        if (ia < 0 || ib < 0 || ia == ib) return None
        MvRewrite.normPair(a.name, b.name)
      case _ => return None
    }
    Some(pairs.toSet)
  }

  /** What one query aggregate computes, if it is a re-aggregable kind
    * over a bare column. */
  private def kindOf(ae: AggregateExpression): Option[AggKind] =
    if (ae.isDistinct || ae.filter.nonEmpty) None
    else ae.aggregateFunction match {
      // NON-null literal only: count(NULL) is always 0, and rewriting
      // it to sum(mv_cnt) would return the row count instead
      case Count(Seq(Literal(v, _))) if v != null => Some(CountStar)
      case Count(Seq(a: AttributeReference))      => Some(CountOf(a.name))
      case s: Sum => s.child match {
        case a: AttributeReference => Some(SumOf(a.name))
        case _                     => None
      }
      case m: Min => m.child match {
        case a: AttributeReference => Some(MinOf(a.name))
        case _                     => None
      }
      case m: Max => m.child match {
        case a: AttributeReference => Some(MaxOf(a.name))
        case _                     => None
      }
      case _ => None
    }

  /** `avg(col)`'s MV decomposition: the stored SumOf(col) and
    * CountOf(col) attributes (CountOf, not CountStar — avg skips
    * nulls, count(*) would not). None when the MV lacks either half. */
  private def avgParts(ae: AggregateExpression, mv: MvDef,
                       mvAttr: Map[String, Attribute]): Option[(Attribute, Attribute)] =
    if (ae.isDistinct || ae.filter.nonEmpty) None
    else ae.aggregateFunction match {
      case avg: Average => avg.child match {
        case a: AttributeReference =>
          for {
            s <- mv.aggs.collectFirst { case (c, SumOf(col)) if col == a.name => mvAttr(c) }
            n <- mv.aggs.collectFirst { case (c, CountOf(col)) if col == a.name => mvAttr(c) }
          } yield (s, n)
        case _ => None
      }
      case _ => None
    }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (MvRewrite.isEmpty && MvRewrite.joinIsEmpty && MvRewrite.topkIsEmpty) plan
    else plan.transformUp {
      case agg @ Aggregate(ges, aes, child, _) =>
        (for {
          (filterOpt, scan) <- scanOf(child)
          path <- sourceOf(scan)
          rewritten <- chooseRewrite(agg, ges, aes, filterOpt, lookup(path))
        } yield rewritten)
          .orElse(rewriteJoinAgg(agg, ges, aes, child))
          .getOrElse(agg)
      case f @ Filter(cond, w: org.apache.spark.sql.catalyst.plans.logical.Window)
          if !MvRewrite.topkIsEmpty =>
        rewriteTopK(f, cond, w).getOrElse(f)
    }

  /** The TOPN match: `Filter(… ∧ rank ≤ c ∧ …, Window(row_number()
    * OVER (PARTITION BY g ORDER BY v DESC, keys ASC)))` over a scan of
    * a registered top-k MV's source with c ≤ k — the materialized-TOPN
    * read side. The rewrite keeps the query's own Window/Filter shape
    * but re-anchors the window's child on the MV scan: the MV stores
    * EXACTLY the source's top-k rows per group in the registered order,
    * so row_number over the MV assigns every rank ≤ k the same row it
    * gets over the source — any filter that confines ranks to ≤ k
    * therefore selects identical rows, and the window now runs over
    * k·|groups| rows instead of the corpus. Extra filter conjuncts
    * evaluate over the same (row, rank) pairs and pass through
    * untouched. Guards (all conservative):
    *  - exactly one window expression: a bare `row_number()`,
    *    `rank()`, or `dense_rank()` (the latter two are tie-safe ONLY
    *    under the full-order guard below — see the match site);
    *  - order = value DESC (nulls last) then every registered key ASC
    *    (nulls first) — the registered maintenance order exactly; a
    *    total order over the group's unique keys, so the three rank
    *    functions coincide;
    *  - partition set == registered group set;
    *  - some conjunct bounds rank ≤ c with c ≤ k (`<=`, `<`, `=`,
    *    either side);
    *  - the window child is the source scan through bare Projects /
    *    WindowGroupLimit, plus optionally a GROUP-COLUMN-only filter
    *    (the optimizer pushes partition-column predicates below the
    *    window; such a predicate is constant per group, so filtering
    *    MV rows is exactly filtering source rows before ranking);
    *  - every column the window child outputs exists in the MV.
    */
  private def rewriteTopK(f: Filter, cond: Expression,
      w: org.apache.spark.sql.catalyst.plans.logical.Window): Option[LogicalPlan] = {
    import org.apache.spark.sql.catalyst.expressions.{Ascending, DenseRank,
      Descending, EqualTo, GreaterThan, GreaterThanOrEqual, LessThan,
      LessThanOrEqual, NullsFirst, NullsLast, Rank, RowNumber, SortOrder,
      WindowExpression}
    import org.apache.spark.sql.catalyst.plans.logical.WindowGroupLimit

    // row_number(), rank(), dense_rank() are all accepted — but ONLY
    // because the order guard below requires the FULL registered
    // order: value DESC then EVERY registered (unique) key ASC. Under
    // that total order no two rows tie on the sort key, so rank ≡
    // dense_rank ≡ row_number and the k-per-group MV serves all three
    // identically. rank() over a PARTIAL order (value only, no key
    // tie-break) is tie-UNSAFE — boundary ties can admit more than k
    // rows, which the k-row MV cannot serve — and such plans fail the
    // order guard, staying on the source scan (MvRewriteSpec pins the
    // tie case).
    val rankAlias = w.windowExpressions match {
      case Seq(al @ Alias(WindowExpression(fn, _), _))
          if fn.isInstanceOf[RowNumber] || fn.isInstanceOf[Rank] ||
             fn.isInstanceOf[DenseRank] => al
      case _ => return None
    }
    // the tightest rank bound among the conjuncts
    def litLong(e: Expression): Option[Long] = e match {
      case Literal(v: Int, _)  => Some(v.toLong)
      case Literal(v: Long, _) => Some(v)
      case _ => None
    }
    def isRank(e: Expression): Boolean = e match {
      case a: AttributeReference => a.exprId == rankAlias.exprId
      case _ => false
    }
    val bounds = splitConjuncts(cond).flatMap {
      case LessThanOrEqual(a, l) if isRank(a)    => litLong(l)
      case LessThan(a, l) if isRank(a)           => litLong(l).map(_ - 1)
      case EqualTo(a, l) if isRank(a)            => litLong(l)
      case EqualTo(l, a) if isRank(a)            => litLong(l)
      case GreaterThanOrEqual(l, a) if isRank(a) => litLong(l)
      case GreaterThan(l, a) if isRank(a)        => litLong(l).map(_ - 1)
      case _ => None
    }
    if (bounds.isEmpty) return None
    val bound = bounds.min
    if (bound < 1) return None

    // window child: scan through bare Projects / WindowGroupLimit,
    // collecting any filter conjuncts found on the way
    def unwrap(p: LogicalPlan): Option[(Seq[Expression], LogicalPlan)] = p match {
      case WindowGroupLimit(_, _, _, _, c) => unwrap(c)
      case Project(pl, c) if bare(pl) => unwrap(c)
      case Filter(fc, c) =>
        unwrap(c).map { case (cs, s) => (cs ++ splitConjuncts(fc), s) }
      case r: LogicalRelation => Some((Nil, r))
      case _ => None
    }
    val (pushed, scan) = unwrap(w.child).getOrElse(return None)
    val path = sourceOf(scan).getOrElse(return None)

    val cands = MvRewrite.topkLookup(path).filter { d =>
      d.k >= bound &&
      // partition set == group set (bare attrs only)
      w.partitionSpec.forall(_.isInstanceOf[AttributeReference]) &&
      w.partitionSpec.map(_.asInstanceOf[AttributeReference].name).toSet ==
        d.groupCols.toSet &&
      // order: value DESC NULLS LAST, then the keys ASC NULLS FIRST
      (w.orderSpec match {
        case SortOrder(v: AttributeReference, Descending, NullsLast, _) +: rest =>
          v.name == d.valueCol && rest.length == d.keyCols.length &&
          rest.zip(d.keyCols).forall {
            case (SortOrder(a: AttributeReference, Ascending, NullsFirst, _), kc) =>
              a.name == kc
            case _ => false
          }
        case _ => false
      }) &&
      // pushed-below filters must confine to group columns AND be
      // deterministic: a nondeterministic predicate (rand()-based —
      // whose reference set is empty and passes the forall vacuously)
      // would be re-evaluated over the k-per-group MV rows instead of
      // the source rows, selecting a different row population
      pushed.forall(p => p.deterministic &&
        p.references.forall(a => d.groupCols.contains(a.name))) &&
      // everything the window child carries must exist in the MV
      w.child.output.forall(a =>
        (d.groupCols ++ d.keyCols :+ d.valueCol).contains(a.name))
    }
    // fewest MV rows ≡ smallest k among the matches
    val mv = cands.sortBy(_.k).headOption.getOrElse(return None)

    val mvPlan = mv.mvPlan match {
      case m: MultiInstanceRelation => m.newInstance().asInstanceOf[LogicalPlan]
      case other => other
    }
    val mvAttr: Map[String, Attribute] = mvPlan.output.map(a => a.name -> a).toMap
    val filtered: LogicalPlan =
      if (pushed.isEmpty) mvPlan
      else Filter(pushed.map(_.transform {
        case a: AttributeReference => mvAttr(a.name)
      }).reduce(org.apache.spark.sql.catalyst.expressions.And(_, _)), mvPlan)
    val mvChild = Project(w.child.output.map(a =>
      Alias(mvAttr(a.name), a.name)(exprId = a.exprId)), filtered)
    Some(f.copy(child = w.copy(child = mvChild)))
  }

  /** The JOIN+AGG MV match: `Aggregate` over a tree of INNER
    * equi-joins of 2+ parquet scans whose (path set, equi-key-pair
    * set) has a registered join MV — the flattened tree shape, so a
    * 3-table star matches regardless of how the user parenthesized it
    * or how the join reorderer re-shaped it. Group columns,
    * aggregates, and every filter (anywhere in the tree) are then
    * resolved BY NAME against the MV exactly like the single-table
    * path — sound because:
    *  - the registration contract (MaterializedJoin's) makes non-join
    *    column names distinct across the tables, and the match
    *    additionally bails if any REFERENCED name is ambiguous in the
    *    actual scan outputs (a same-named pair could silently resolve
    *    to the wrong table);
    *  - a filter on an MV GROUP column commutes with the joins and
    *    the aggregation (the column is constant within every join-row
    *    group), so re-applying it above the MV scan is exact — the
    *    same argument as the single-table filter rule, checked by the
    *    shared [[filterRewritable]];
    *  - the MV stores aggregates OF THE JOIN (count(*) = Σ join-row
    *    multiplicities), so count/sum/min/max/avg map exactly as in
    *    [[tryRewrite]], which this delegates to.
    */
  private def rewriteJoinAgg(agg: Aggregate, ges: Seq[Expression],
                             aes: Seq[NamedExpression],
                             child: LogicalPlan): Option[LogicalPlan] = {
    if (MvRewrite.joinIsEmpty) return None
    for {
      (scans, filts, joinConds) <- flattenInner(child)
      if scans.size >= 2
      paths = scans.flatMap(sourceOf)
      if paths.size == scans.size // every leaf is a parquet scan
      if paths.toSet.size == paths.size // self-joins disqualify
      pairs <- equiPairs(joinConds, scans)
      // every name the query references must be unambiguous across
      // ALL scans — else by-name MV resolution could pick the wrong
      // table
      dup = scans.flatMap(_.output).map(_.name)
        .groupBy(identity).collect { case (n, vs) if vs.sizeIs > 1 => n }.toSet
      refs = (ges ++ aes ++ filts).flatMap(_.references)
      if !refs.exists(a => dup.contains(a.name))
      // all filters fold into one condition; filterRewritable (inside
      // tryRewrite) then requires group-column-only references.
      // isnotnull(<join key>) conjuncts are DROPPED first: the
      // optimizer's InferFiltersFromConstraints plants them under
      // every inner equi-join, and they are implied by the join itself
      // (null = null is never true), so the MV — an aggregate of the
      // join — already reflects them.
      keyNames = pairs.flatMap(p => Seq(p._1, p._2))
      filterOpt = filts
        .filterNot {
          case org.apache.spark.sql.catalyst.expressions
            .IsNotNull(a: AttributeReference) => keyNames.contains(a.name)
          case _ => false
        }
        .reduceOption(org.apache.spark.sql.catalyst.expressions.And(_, _))
      rewritten <- chooseRewrite(agg, ges, aes, filterOpt,
        lookupJoin(paths.toSet, pairs))
    } yield rewritten
  }

  /** Among a source's registered MVs, rewrite against the CHEAPEST
    * matching one: an exact group-set match costs zero re-aggregated
    * rows, a rollup match costs the MV's row count — so candidates are
    * tried exact-first, then finest-first (fewest rows). The first
    * candidate whose aggregates all map wins; ties break on mvPath for
    * determinism. */
  private def chooseRewrite(agg: Aggregate, ges: Seq[Expression],
                            aes: Seq[NamedExpression], filterOpt: Option[Expression],
                            mvs: Seq[MvDef]): Option[LogicalPlan] = {
    if (mvs.isEmpty) return None
    val groupNames = ges.collect { case a: AttributeReference => a.name }
    val ordered = mvs.sortBy(mv =>
      (if (groupNames.toSet == mv.groupCols.toSet) 0 else 1, mv.rows, mv.mvPath))
    ordered.iterator
      .map(mv =>
        if (mv.aggs.values.exists(isSketch))
          tryRewriteSketch(ges, aes, filterOpt, mv)
        else tryRewrite(agg, ges, aes, filterOpt, mv))
      .collectFirst { case Some(p) => p }
  }

  /** A filter under the aggregate is rewritable iff every column it
    * reads is an MV GROUP column (then it is constant per group:
    * applying it to MV rows ≡ applying it to source rows before the
    * aggregation), it is deterministic, and it carries no subquery. */
  private def filterRewritable(cond: Expression, mv: MvDef): Boolean =
    cond.deterministic &&
      !cond.exists(_.isInstanceOf[PlanExpression[_]]) &&
      cond.references.forall(a => mv.groupCols.contains(a.name))

  // ---- sketch-MV path (StarRocks HLL/PERCENTILE aggregate-column
  // acceleration): a query's approx_count_distinct / percentile_approx
  // over the SOURCE is served by merging the MV's stored sketch
  // column — shuffle ∝ MV rows carrying O(k) sketches, never source
  // rows. See KmvSketchOf/QskSketchOf for the estimator-substitution
  // contract. ----

  private sealed trait SketchReq
  private case class ReqApproxDistinct(col: String) extends SketchReq
  private case class ReqApproxPerc(col: String, q: Double) extends SketchReq
  private case class ReqCountDistinct(col: String) extends SketchReq
  private case object ReqCountStar extends SketchReq

  /** What one query aggregate asks of a sketch MV, if it is a
    * sketch-servable kind over a bare column. */
  private def sketchReqOf(ae: AggregateExpression): Option[SketchReq] =
    if (ae.filter.nonEmpty) None
    else if (ae.isDistinct) ae.aggregateFunction match {
      // EXACT count(DISTINCT x) — servable from an Rbm bitmap column
      // with value-identical results (no estimator involved)
      case Count(Seq(a: AttributeReference)) => Some(ReqCountDistinct(a.name))
      case _ => None
    }
    else ae.aggregateFunction match {
      case h: HyperLogLogPlusPlus => h.child match {
        case a: AttributeReference => Some(ReqApproxDistinct(a.name))
        case _ => None
      }
      case p: ApproximatePercentile if p.dataType == DoubleType =>
        (p.children.head, p.children(1)) match {
          // scalar foldable percentage only (an ARRAY of percentages
          // yields ArrayType and is filtered by the dataType guard)
          case (a: AttributeReference, Literal(v, _)) =>
            Some(ReqApproxPerc(a.name, v.toString.toDouble))
          case _ => None
        }
      // non-null literal only — same count(NULL) guard as kindOf
      case Count(Seq(Literal(v, _))) if v != null => Some(ReqCountStar)
      case _ => None
    }

  /** Rewrite an approx-aggregate query onto a registered sketch MV.
    * Unlike [[tryRewrite]] (pure catalyst surgery), the replacement
    * subtree is built through the full Dataset pipeline — groupBy/agg
    * over the snapshot scan — because the sketch merge aggregators are
    * typed udafs whose encoders only resolve during ANALYSIS; an
    * optimizer rule cannot splice an unresolved ScalaAggregator
    * directly. The analyzed subtree is then re-anchored under a
    * Project that restores the query's original exprIds, and the
    * optimizer's own fixpoint passes prune/plan it like any other
    * scan. Group-set containment, the group-column-only filter rule,
    * and type preservation match the classic path exactly. */
  private def tryRewriteSketch(ges: Seq[Expression],
                               aes: Seq[NamedExpression],
                               filterOpt: Option[Expression],
                               mv: MvDef): Option[LogicalPlan] = {
    filterOpt.foreach(c => if (!filterRewritable(c, mv)) return None)
    val groupNames = ges.map {
      case a: AttributeReference => a.name
      case _ => return None
    }
    if (groupNames.distinct.size != groupNames.size) return None
    if (!groupNames.toSet.subsetOf(mv.groupCols.toSet)) return None
    // outputs are re-anchored by NAME below — ambiguity disqualifies
    if (aes.map(_.name).distinct.size != aes.size) return None

    import org.apache.spark.sql.functions.{col, floor, lit, sum}
    val mvPlan = mv.mvPlan match {
      case m: MultiInstanceRelation => m.newInstance().asInstanceOf[LogicalPlan]
      case other => other
    }
    var mvDf: DataFrame = GraftSqlBridge.ofRows(spark, mvPlan)
    filterOpt.foreach { c =>
      val mvAttr = mvPlan.output.map(a => a.name -> a).toMap
      val re = c.transform { case a: AttributeReference => mvAttr(a.name) }
      mvDf = mvDf.where(GraftSqlBridge.column(re))
    }
    val aggCols: Seq[Column] = aes.flatMap {
      case a: AttributeReference if groupNames.contains(a.name) => None
      case al @ Alias(ae: AggregateExpression, name) =>
        sketchReqOf(ae).getOrElse(return None) match {
          case ReqApproxDistinct(x) =>
            val sk = mv.aggs.collectFirst {
              case (c0, KmvSketchOf(c1)) if c1 == x => c0 }.getOrElse(return None)
            if (al.dataType != LongType) return None
            // kmv-merge the stored sketches, estimate, round to the
            // LongType approx_count_distinct contract (floor(x+0.5)
            // is exact below k, where the estimate IS the count)
            Some(floor(graft.functions.Kmv.distinctEst(
              graft.functions.Kmv.kmvMerge(col(sk))) + lit(0.5)).as(name))
          case ReqApproxPerc(x, q) =>
            val sk = mv.aggs.collectFirst {
              case (c0, QskSketchOf(c1)) if c1 == x => c0 }.getOrElse(return None)
            if (al.dataType != DoubleType) return None
            Some(graft.functions.Qsk.qskMergeQuantile(col(sk), q).as(name))
          case ReqCountDistinct(x) =>
            val sk = mv.aggs.collectFirst {
              case (c0, RbmSketchOf(c1)) if c1 == x => c0 }.getOrElse(return None)
            if (al.dataType != LongType) return None
            // bitmap-union the stored exact bitmaps, then cardinality
            // — value-identical to the raw count(DISTINCT x)
            Some(graft.functions.Rbm.cardinality(
              graft.functions.Rbm.rbmUnion(col(sk))).as(name))
          case ReqCountStar =>
            val n = mv.aggs.collectFirst {
              case (c0, CountStar) => c0 }.getOrElse(return None)
            if (al.dataType != LongType) return None
            Some(sum(col(n)).as(name))
        }
      case _ => return None
    }
    if (aggCols.isEmpty) return None
    val rdf = mvDf.groupBy(groupNames.map(col): _*)
      .agg(aggCols.head, aggCols.tail: _*)
    val rplan = rdf.queryExecution.analyzed
    val byName: Map[String, Attribute] = rplan.output.map(a => a.name -> a).toMap
    val projected = aes.map { ne =>
      val src = byName.getOrElse(ne.name, return None)
      if (src.dataType != ne.dataType) return None
      Alias(src, ne.name)(exprId = ne.exprId)
    }
    Some(Project(projected, rplan))
  }

  private def tryRewrite(agg: Aggregate, ges: Seq[Expression],
                         aes: Seq[NamedExpression], filterOpt: Option[Expression],
                         mv: MvDef): Option[LogicalPlan] = {
    filterOpt.foreach(c => if (!filterRewritable(c, mv)) return None)
    // group-bys must be bare source columns
    val groupNames = ges.map {
      case a: AttributeReference => a.name
      case _ => return None
    }
    if (groupNames.distinct.size != groupNames.size) return None
    val exact = groupNames.toSet == mv.groupCols.toSet
    val rollup = !exact && groupNames.toSet.subsetOf(mv.groupCols.toSet)
    if (!exact && !rollup) return None

    // fresh attribute instances per rewrite — reusing the registered
    // plan verbatim twice in one query would collide exprIds
    val mvPlan = mv.mvPlan match {
      case m: MultiInstanceRelation => m.newInstance().asInstanceOf[LogicalPlan]
      case other => other
    }
    val mvAttr: Map[String, Attribute] = mvPlan.output.map(a => a.name -> a).toMap

    // the (group-column-only) source filter, re-anchored on the MV scan
    val mvChild: LogicalPlan = filterOpt match {
      case Some(c) =>
        Filter(c.transform { case a: AttributeReference => mvAttr(a.name) }, mvPlan)
      case None => mvPlan
    }

    // map every query output to an MV expression, preserving exprIds
    def mvColFor(kind: AggKind): Option[Attribute] =
      mv.aggs.collectFirst { case (c, k) if k == kind => mvAttr(c) }

    if (exact) {
      val projected = aes.map {
        case a: AttributeReference if mv.groupCols.contains(a.name) =>
          Alias(mvAttr(a.name), a.name)(exprId = a.exprId)
        case al @ Alias(ae: AggregateExpression, name) =>
          avgParts(ae, mv, mvAttr) match {
            // avg(x) over the exact group set = stored sum / stored
            // non-null count, one division per MV row
            case Some((s, n)) =>
              if (al.dataType != DoubleType) return None
              Alias(Divide(Cast(s, DoubleType), Cast(n, DoubleType)),
                name)(exprId = al.exprId)
            case None =>
              val src = kindOf(ae).flatMap(mvColFor).getOrElse(return None)
              if (src.dataType != al.dataType) return None
              Alias(src, name)(exprId = al.exprId)
          }
        case _ => return None
      }
      Some(Project(projected, mvChild))
    } else {
      val rolled = aes.map {
        case a: AttributeReference if groupNames.contains(a.name) =>
          Alias(mvAttr(a.name), a.name)(exprId = a.exprId)
        case al @ Alias(ae: AggregateExpression, name) =>
          avgParts(ae, mv, mvAttr) match {
            // avg over a COARSER group set: Σ(stored sums)/Σ(stored
            // counts) — the sum/count decomposition is what makes avg
            // re-aggregable at all (averaging averages is wrong)
            case Some((s, n)) =>
              if (al.dataType != DoubleType) return None
              if (s.dataType != LongType && s.dataType != DoubleType) return None
              // DISTINCT resultIds: a bare ae.copy would give both
              // aggregates the query avg's resultId and the planner
              // would dedupe them into one buffer (x/x ≡ 1.0)
              val sSum = ae.copy(aggregateFunction = Sum(s),
                resultId = NamedExpression.newExprId)
              val nSum = ae.copy(aggregateFunction = Sum(n),
                resultId = NamedExpression.newExprId)
              Alias(Divide(Cast(sSum, DoubleType), Cast(nSum, DoubleType)),
                name)(exprId = al.exprId)
            case None =>
              val kind = kindOf(ae).getOrElse(return None)
              val src = mvColFor(kind).getOrElse(return None)
              val rolledFn = kind match {
                // a re-sum of counts/sums; long and double re-sum to
                // themselves, anything else (decimal widening) bails
                case CountStar | _: SumOf | _: CountOf =>
                  if (src.dataType != LongType && src.dataType != DoubleType)
                    return None
                  Sum(src)
                case _: MinOf => Min(src)
                case _: MaxOf => Max(src)
                // kindOf never yields sketch kinds (they belong to
                // tryRewriteSketch); bail if one ever reaches here
                case _: KmvSketchOf | _: QskSketchOf | _: RbmSketchOf =>
                  return None
              }
              val rolledAgg = ae.copy(aggregateFunction = rolledFn)
              if (rolledAgg.dataType != al.dataType) return None
              Alias(rolledAgg, name)(exprId = al.exprId)
          }
        case _ => return None
      }
      val newGes = groupNames.map(mvAttr(_))
      Some(Aggregate(newGes, rolled, mvChild, None))
    }
  }
}
