package graftbench

import java.io.File
import java.sql.Date

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types.StructType

import graft.fgac.{AccessDeniedException, AuditLog, GovernedGraftTable, Principal,
  SecureCatalog, TablePolicy}
import graft.lakehouse.{GraftTable, LakeRegistry}

/** The paper's producer and consumer jobs on the same governed tables.
  *
  * Producer: new and corrected claims land in `landing`, an append-only
  * table; a `graft-lake` stream MERGEs each landing commit into
  * `claims` by `claim_id`; `claims` also takes keyed upserts,
  * copy-on-write UPDATE and DELETE, a merge-on-read DELETE followed by
  * compaction, and snapshot expiry.
  *
  * Consumer: after each producer cycle the SQL names are re-bound to
  * the new snapshot, and one deck of governed reads runs in a seeded
  * order: the `rl_patients` scan and the ordered `rl_claims ⋈
  * rl_patients` join as team1 (row filter, column filter, mask), a
  * per-state aggregate, a policy-filtered DataFrame read, a claim-date
  * range read through [[GovernedGraftTable.readWhere]], a `VERSION AS
  * OF` read, and team2's read of patients, which must be denied. The
  * four cheapest of these run five times each.
  *
  * A model replays every op; each read is checked against it, and the
  * final tables too. */
final class GovernedLake(spark: SparkSession, rec: Recorder, rng: Random,
    seed: Long, work: String) extends Workload {

  private val Patients = 5000L
  private val Claims = 50000L
  /** The initial load: date-clustered commits, each landing ten
    * consecutive months (a loader with late arrivals), so `claims`
    * starts with LoadCommits x LoadWindow = 100 files. */
  private val LoadCommits = 10
  private val LoadWindow = 10
  /** Compaction rewrites `claims` into this many files per month,
    * the file count the initial load leaves, so every round reads and
    * plans a table of about a hundred files. */
  private val FilesPerMonth = 4
  private val Months = 24 // 1997-01 .. 1998-12
  /** The producer touches only the last three months, as daily
    * loads and corrections do. */
  private val Recent = "claim_date >= DATE'1998-10-01'"
  private val RecentMonth = 21
  private val AppendRows = 200
  private val Corrections = 50
  private val UpsertRows = 100
  private val Team1States = Seq("Texas", "New York", "Ohio")
  private val Team1Filter = Team1States.map(s => s"'$s'").mkString("state IN (", ", ", ")")
  private val Team1Cols = Seq("patient_id", "name", "state", "balance", "segment")
  private val ClaimCols = Seq("claim_id", "patient_id", "claim_date", "amount", "status")
  private val JoinCols = Seq("state", "claim_id", "claim_date", "amount", "name")

  private type Claim = (Long, Long, Date, Double, String)
  private def row(c: Claim): Row = Row(c._1, c._2, c._3, c._4, c._5)
  private def claim(r: Row): Claim =
    (r.getLong(0), r.getLong(1), r.getDate(2), r.getDouble(3), r.getString(4))
  private def monthOf(d: Date): Int = {
    val l = d.toLocalDate
    (l.getYear - 1997) * 12 + l.getMonthValue - 1
  }

  // inputs
  private var rawPatients: DataFrame = _
  private var claimSchema: StructType = _
  private var loadRows: Array[Claim] = _
  private var visible: Map[Long, Row] = _   // team1's view of patients
  private var expScan: (Long, Long) = _

  // fixture
  private var patients: GraftTable = _
  private var claims: GraftTable = _
  private var landing: GraftTable = _
  private var govPatients: GovernedGraftTable = _
  private var govClaims: GovernedGraftTable = _
  private var checkpoint: String = _

  /** The claims model, with order-insensitive digests kept up to date
    * for every read the deck checks. */
  private object Model {
    val rows = mutable.HashMap.empty[Long, Claim]
    var all = (0L, 0L)
    val month = Array.fill(Months)((0L, 0L))
    var join = (0L, 0L)
    val agg = mutable.HashMap.empty[String, (Long, BigDecimal)]
    /** snapshot id -> digest of the whole table at that snapshot */
    val atSnapshot = mutable.LinkedHashMap.empty[Long, (Long, Long)]

    private def add(d: (Long, Long), h: Long, sign: Int) = (d._1 + sign, d._2 + sign * h)
    private def touch(c: Claim, sign: Int): Unit = {
      val h = Digest.row(ClaimCols, row(c))
      all = add(all, h, sign)
      val m = monthOf(c._3)
      month(m) = add(month(m), h, sign)
      visible.get(c._2).foreach { p =>
        val st = p.getString(2)
        join = add(join, Digest.row(JoinCols, Row(st, c._1, c._3, c._4, p.getString(1))), sign)
        val (n, s) = agg.getOrElse(st, (0L, BigDecimal(0)))
        agg(st) = (n + sign, s + sign * BigDecimal(c._4).setScale(2, BigDecimal.RoundingMode.HALF_UP))
      }
    }
    def put(c: Claim): Unit = { rows.get(c._1).foreach(touch(_, -1)); rows(c._1) = c; touch(c, 1) }
    def remove(id: Long): Unit = rows.remove(id).foreach(touch(_, -1))
    def aggDigest: (Long, Long) = Digest.of(Seq("state", "n", "total"),
      agg.iterator.filter(_._2._1 > 0).map { case (st, (n, s)) => Row(st, n, s.bigDecimal) }.toArray)
    def clear(): Unit = {
      rows.clear(); all = (0L, 0L); join = (0L, 0L); agg.clear(); atSnapshot.clear()
      month.indices.foreach(month(_) = (0L, 0L))
    }
  }
  private val landingModel = mutable.ArrayBuffer.empty[Claim]
  private val pendingLanding = mutable.ArrayBuffer.empty[Array[Claim]]
  /** claims keys a DML op touched; elsewhere claims mirrors landing */
  private val dmlKeys = mutable.HashSet.empty[Long]
  private var nextClaim = 0L
  private var nextUpsert = 0L
  private var cycle = 0
  private var audit0 = 0L
  private var deniedOps = 0L
  private var plannedDenied = 0L
  private val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]
  private val ingested = mutable.ArrayBuffer.empty[Claim]

  def prepare(): Unit = {
    val d = new Data(spark, seed)
    val ord = d.orders(Claims * 2, Patients)
    rawPatients = d.customer(Patients)
      .join(d.nation, col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey").as("patient_id"), col("c_name").as("name"),
        col("n_name").as("state"),
        format_string("%03d-%02d-%04d",
          pmod(xxhash64(col("c_custkey"), lit(1)), lit(900)) + 100,
          pmod(xxhash64(col("c_custkey"), lit(2)), lit(90)) + 10,
          pmod(xxhash64(col("c_custkey"), lit(3)), lit(9000)) + 1000).as("ssn"),
        col("c_acctbal").as("balance"), col("c_mktsegment").as("segment"))
      .cache()
    val rawClaims = ord.select(col("o_orderkey").as("claim_id"),
      col("o_custkey").as("patient_id"),
      date_add(lit("1997-01-01").cast("date"),
        pmod(datediff(col("o_orderdate"), lit("1992-01-01").cast("date")), lit(730)))
        .as("claim_date"),
      col("o_totalprice").as("amount"), col("o_orderstatus").as("status"))
    claimSchema = rawClaims.schema
    // the first half is the initial load; the second feeds the producer
    val all = rawClaims.collect().map(claim)
    loadRows = all.take(Claims.toInt)
    pool = all.drop(Claims.toInt)
    // team1's policy applied by hand to the raw rows
    val md5 = java.security.MessageDigest.getInstance("MD5")
    def hex(x: String) = md5.digest(x.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    val vis = rawPatients.collect().filter(r => Team1States.contains(r.getString(2)))
      .map(r => Row(r.getLong(0), hex(r.getString(1)), r.getString(2), r.getDouble(4),
        r.getString(5)))
    expScan = Digest.of(Team1Cols, vis)
    visible = vis.map(r => r.getLong(0) -> r).toMap
  }
  private var pool: Array[Claim] = _

  private def frame(cs: Iterable[Claim]): DataFrame =
    spark.createDataFrame(cs.map(row).toSeq.asJava, claimSchema)

  def setup(dir: String): Unit = {
    Model.clear(); landingModel.clear(); pendingLanding.clear(); dmlKeys.clear()
    progress.clear(); ingested.clear()
    nextClaim = 2 * Claims; nextUpsert = 10 * Claims; cycle = 0
    patients = GraftTable.create(spark, s"$dir/patients", rawPatients, Seq("state"))
    claims = GraftTable.createEmpty(spark, s"$dir/claims", claimSchema, Seq("month(claim_date)"))
    // date-clustered commits: commit i covers months [lo(i), lo(i) +
    // LoadWindow), and each claim goes to one of the commits covering
    // its month, picked by its key
    def lo(i: Int) = i * (Months - LoadWindow) / (LoadCommits - 1)
    val byCommit = loadRows.groupBy { c =>
      val m = monthOf(c._3)
      val covering = (0 until LoadCommits).filter(i => m >= lo(i) && m < lo(i) + LoadWindow)
      covering((c._1 % covering.size).toInt)
    }
    (0 until LoadCommits).foreach { i =>
      val part = byCommit.getOrElse(i, Array.empty[Claim])
      claims.append(frame(part))
      part.foreach(Model.put)
      Model.atSnapshot(claims.currentSnapshotId) = Model.all
    }
    ingested ++= loadRows
    landing = GraftTable.createEmpty(spark, s"$dir/landing", claimSchema)
    checkpoint = s"$dir/checkpoint"
    SecureCatalog.governTable("patients", patients.read().columns.toIndexedSeq)
    SecureCatalog.governTable("claims", ClaimCols)
    patients.read().createOrReplaceTempView(SecureCatalog.rawViewName("patients"))
    bindClaims()
    val links = Map("rl_patients" -> "patients", "rl_claims" -> "claims")
    SecureCatalog.register(Principal("team1", links = links, grants = Map(
      "patients" -> TablePolicy("patients", rowFilter = Some(Team1Filter),
        allowedColumns = Some(Team1Cols), masks = Map("name" -> "md5(name)")),
      "claims" -> TablePolicy("claims"))))
    SecureCatalog.register(Principal("team2", links = links,
      grants = Map("claims" -> TablePolicy("claims"))))
    SecureCatalog.register(Principal("admin", links = links, grants = Map(
      "patients" -> TablePolicy("patients"), "claims" -> TablePolicy("claims"))))
    LakeRegistry.register("claims_hist", claims)
    govPatients = new GovernedGraftTable(patients, "patients", spark)
    govClaims = new GovernedGraftTable(claims, "claims", spark)
  }

  /** Point the governed SQL name at the current claims snapshot. */
  private def bindClaims(): Unit =
    claims.read().createOrReplaceTempView(SecureCatalog.rawViewName("claims"))

  override def facts: Map[String, String] = Map(
    "append_probe_files_ms" -> appendPoints.map { case (f, ms) => f"$f%.0f:$ms%.1f" }
      .mkString(" "),
    "patients_files" -> patients.currentSnapshot.files.size.toString,
    "claims_files" -> claims.currentSnapshot.files.size.toString,
    "landing_files" -> landing.currentSnapshot.files.size.toString,
    "cycles" -> cycle.toString)

  override def beforeMeasuring(): Unit = audit0 = AuditLog.entries.size

  private def as(who: String): Unit = spark.conf.set(SecureCatalog.PrincipalConf, who)

  // ---- producer ---------------------------------------------------------

  private def dirBytes(root: String): Map[String, Long] = {
    def walk(f: File): Iterator[File] =
      if (f.isDirectory) Option(f.listFiles).iterator.flatten.flatMap(walk) else Iterator(f)
    walk(new File(root)).map(f => f.getPath -> f.length).toMap
  }

  /** One commit op; traced runs also measure what it wrote. */
  private def commit(cls: String, t: GraftTable)(body: => Any): Unit = {
    val before = if (rec.traced) dirBytes(t.location) else Map.empty[String, Long]
    rec.op("commit", cls)(rec.span(s"lakehouse.$cls", "commit")(body)) {
      case Left(e) => Some(s"threw $e")
      case Right(_) => None
    }
    if (rec.traced && rec.measuring) {
      val added = dirBytes(t.location).filter { case (p, _) => !before.contains(p) }
      val (meta, data) = added.partition(_._1.contains("/_graft_meta/"))
      rec.counts("commit_ops") += 1
      rec.counts("files_added") += data.keys.count(_.endsWith(".parquet"))
      rec.counts("data_bytes") += data.values.sum
      rec.counts("meta_bytes") += meta.values.sum
    }
  }

  private def snapshotTaken(): Unit = Model.atSnapshot(claims.currentSnapshotId) = Model.all

  private def randomDate(): Date =
    Date.valueOf(java.time.LocalDate.of(1998, 10, 1).plusDays(rng.nextInt(92).toLong))

  /** New claims plus corrections of landed ones, keys unique. */
  private def landBatch(): Unit = {
    val fresh = (0 until AppendRows).map { i =>
      val p = pool(((nextClaim + i) % pool.length).toInt)
      p.copy(_1 = nextClaim + i, _3 = randomDate())
    }
    nextClaim += AppendRows
    val landed = landingModel.iterator.map(_._1).toIndexedSeq
    val fixes = if (landed.isEmpty) Nil else
      Iterator.continually(landed(rng.nextInt(landed.size))).distinct
        .take(math.min(Corrections, landed.distinct.size))
        .map(k => landingModel.find(_._1 == k).get.copy(_4 = 100.0 * (cycle + 1), _5 = "F"))
        .toSeq
    val rows = (fresh ++ fixes).toArray
    commit("append", landing)(landing.append(frame(rows)))
    landingModel ++= rows; pendingLanding += rows; ingested ++= rows
    rec.add("rows", rows.length)
  }

  private def upsert(): Unit = {
    val keys = Model.rows.valuesIterator.filter(c => monthOf(c._3) >= RecentMonth)
      .map(_._1).toIndexedSeq
    val upd = Iterator.continually(keys(rng.nextInt(keys.size))).distinct
      .take(UpsertRows * 7 / 10).map(k => Model.rows(k))
      .map(c => c.copy(_4 = c._4 + 0.5, _5 = "O")).toSeq
    val ins = (0 until UpsertRows - upd.size).map { _ =>
      nextUpsert += 1
      pool(rng.nextInt(pool.length)).copy(_1 = nextUpsert, _3 = randomDate())
    }
    val src = upd ++ ins
    commit("merge", claims)(claims.merge(frame(src), "claim_id"))
    src.foreach { c => Model.put(c); dmlKeys += c._1 }
    snapshotTaken()
    ingested ++= src
    rec.add("rows", src.size)
  }

  /** The model's recent claims of patients with `patient_id % 50 = p`. */
  private def recentOf(p: Int): Seq[Claim] = Model.rows.valuesIterator
    .filter(c => c._2 % 50 == p && monthOf(c._3) >= RecentMonth).toSeq

  private def updateCow(): Unit = {
    val p = rng.nextInt(50)
    commit("update", claims)(claims.update(Map("amount" -> "amount + 1"),
      s"patient_id % 50 = $p AND $Recent"))
    recentOf(p).foreach { c => Model.put(c.copy(_4 = c._4 + 1)); dmlKeys += c._1 }
    snapshotTaken()
  }

  private def deleteCow(): Unit = {
    val p = rng.nextInt(50)
    commit("delete_cow", claims)(claims.delete(s"patient_id % 50 = $p AND $Recent"))
    recentOf(p).foreach { c => Model.remove(c._1); dmlKeys += c._1 }
    snapshotTaken()
  }

  private def deleteMoRThenCompact(): Unit = {
    val p = rng.nextInt(50)
    commit("delete_mor", claims)(
      claims.deleteMoR(s"status = 'P' AND patient_id % 50 = $p AND $Recent"))
    recentOf(p).filter(_._5 == "P").foreach { c => Model.remove(c._1); dmlKeys += c._1 }
    snapshotTaken()
    commit("compact", claims)(claims.compact(FilesPerMonth))
    snapshotTaken()
  }

  /** Run the landing→claims stream until it has drained landing. */
  private def stream(): Unit = {
    val expect = pendingLanding.map(_.length).sum
    rec.op("batch", "stream")(rec.span("streaming.run", "batch") {
      val q = spark.readStream.format("graft-lake")
        .option("maxCommitsPerTrigger", "1")
        .option("startingSnapshotId", "1") // after the empty create
        .load(landing.location)
        .writeStream.format("graft-lake")
        .option("mergeKeys", "claim_id")
        .option("checkpointLocation", checkpoint)
        .trigger(Trigger.AvailableNow())
        .start(claims.location)
      q.awaitTermination()
      q.recentProgress.toSeq.filter(_.numInputRows > 0)
    }) {
      case Left(t) => Some(s"threw $t")
      case Right(ps) =>
        val n = ps.map(_.numInputRows).sum
        if (rec.measuring) { progress ++= ps; rec.add("rows", n.toDouble) }
        if (n != expect) Some(s"stream moved $n rows, landing added $expect") else None
    }
    // each landing commit is one batch, merged by key
    pendingLanding.foreach(_.foreach(Model.put))
    pendingLanding.clear()
    snapshotTaken()
  }

  // ---- consumer ---------------------------------------------------------

  private val ScanSql = "SELECT * FROM rl_patients"
  private val JoinSql =
    """SELECT p.state, c.claim_id, c.claim_date, c.amount, p.name
      |FROM rl_claims c JOIN rl_patients p ON c.patient_id = p.patient_id
      |ORDER BY p.state, c.claim_date""".stripMargin
  private val AggSql =
    """SELECT p.state, count(*) AS n, sum(CAST(c.amount AS DECIMAL(18,2))) AS total
      |FROM rl_claims c JOIN rl_patients p ON c.patient_id = p.patient_id
      |GROUP BY p.state""".stripMargin

  /** A SQL read, split by QueryExecution phase when traced. */
  private def sqlRead(text: String): (Seq[String], Array[Row]) =
    dfRead(rec.span("fgac.analyze", "analyze") {
      val d = spark.sql(text); d.queryExecution.analyzed; d
    })
  private def dfRead(df: DataFrame): (Seq[String], Array[Row]) = {
    rec.span("spark.optimize", "optimize")(df.queryExecution.optimizedPlan)
    rec.span("spark.plan", "plan")(df.queryExecution.executedPlan)
    (df.columns.toSeq, rec.span("spark.execute", "execute")(df.collect()))
  }

  private def expect(want: (Long, Long), cols: Seq[String])(
      got: Either[Throwable, (Seq[String], Array[Row])]): Option[String] = got match {
    case Left(t) => Some(s"threw $t")
    case Right((c, rows)) =>
      rec.add("rows", rows.length)
      if (c.toSet != cols.toSet) Some(s"columns ${c.mkString(",")}")
      else {
        val d = Digest.of(c, rows)
        if (d != want) Some(s"digest $d != $want") else None
      }
  }

  /** Analysis of the same text as admin and as team1, to split out
    * the policy rewrite (traced runs only). */
  private def rewriteProbe(text: String): Unit = if (rec.traced) {
    as("admin")
    rec.probe("fgac.analyze_admin")(spark.sql(text).queryExecution.analyzed)
    as("team1")
    rec.probe("fgac.analyze_team1")(spark.sql(text).queryExecution.analyzed)
  }

  private val Reads = Seq("sql_scan", "sql_join", "sql_agg", "df_read", "df_range",
    "sql_version", "sql_denied")
  /** The reads that take about a tenth of a second or less run this
    * many times a round, so their medians rest on several samples. */
  private val Cheap = Seq("sql_scan", "df_read", "df_range", "sql_denied")
  private val CheapRepeats = 5

  private def read(cls: String): Unit = cls match {
    case "sql_scan" =>
      as("team1")
      rec.op("read", cls)(sqlRead(ScanSql))(expect(expScan, Team1Cols))
      rewriteProbe(ScanSql)
    case "sql_join" =>
      as("team1")
      rec.op("read", cls)(sqlRead(JoinSql)) { r =>
        expect(Model.join, JoinCols)(r).orElse(r.toOption.flatMap { case (_, rows) =>
          val keys = rows.map(x => (x.getString(0), x.getDate(2).getTime))
          val sorted = keys.sliding(2).forall {
            case Array(a, b) => a._1 < b._1 || (a._1 == b._1 && a._2 <= b._2)
            case _ => true
          }
          if (sorted) None else Some("rows out of ORDER BY order")
        })
      }
      rewriteProbe(JoinSql)
    case "sql_agg" =>
      as("team1")
      rec.op("read", cls)(sqlRead(AggSql))(expect(Model.aggDigest, Seq("state", "n", "total")))
    case "df_read" =>
      as("team1")
      rec.op("read", cls) {
        dfRead(rec.span("fgac.secure_read", "plan")(govPatients.read()))
      }(expect(expScan, Team1Cols))
      if (rec.traced) {
        rec.probe("lakehouse.plan")(patients.read())
        rec.add("files_per_scan", patients.read().inputFiles.length)
        rec.add("scans", 1)
      }
    case "df_range" =>
      as("team1")
      val lo = rng.nextInt(Months - 1)
      val hi = lo + 2
      val pred = f"claim_date >= DATE'${1997 + lo / 12}-${lo % 12 + 1}%02d-01' AND " +
        f"claim_date < DATE'${1997 + hi / 12}-${hi % 12 + 1}%02d-01'"
      val want = Model.month.slice(lo, hi).foldLeft((0L, 0L)) {
        case ((n, h), (a, b)) => (n + a, h + b)
      }
      rec.op("read", cls) {
        dfRead(rec.span("fgac.secure_read", "plan")(govClaims.readWhere(pred)))
      }(expect(want, ClaimCols))
      if (rec.traced) {
        val pruned = rec.probe("lakehouse.plan")(claims.readWhere(pred))
        rec.add("range_files", pruned.inputFiles.length)
        rec.add("range_live_files", claims.currentSnapshot.files.size)
      }
    case "sql_version" =>
      as("")
      // a snapshot the last expiry kept
      val kept = Model.atSnapshot.keys.toIndexedSeq.takeRight(3)
      val v = kept(rng.nextInt(kept.size))
      rec.op("read", cls) {
        dfRead(rec.span("lakehouse.plan_at", "analyze") {
          val d = spark.sql(s"SELECT * FROM claims_hist VERSION AS OF $v")
          d.queryExecution.analyzed; d
        })
      }(expect(Model.atSnapshot(v), ClaimCols))
    case "sql_denied" =>
      as("team2")
      plannedDenied += 1
      rec.op("read", cls)(sqlRead(ScanSql)) {
        case Left(t) if Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
            .exists(_.isInstanceOf[AccessDeniedException]) =>
          deniedOps += 1; rec.add("denied", 1); None
        case Left(t) => Some(s"threw $t instead of a denial")
        case Right(_) => Some("team2 read patients: expected a denial")
      }
  }

  def round(): Unit = {
    cycle += 1
    as("")
    landBatch()
    // copy-on-write ops first: they refuse while merge-on-read
    // deletes are pending
    rng.shuffle(Seq(0, 1, 2)).foreach {
      case 0 => upsert()
      case 1 => updateCow()
      case 2 => deleteCow()
    }
    deleteMoRThenCompact()
    stream()
    commit("expire", claims)(claims.expireSnapshots(3))
    Model.atSnapshot.keys.toSeq.dropRight(3).foreach(Model.atSnapshot.remove)
    rec.op("read", "bind_view")(rec.span("lakehouse.bind_view", "plan")(bindClaims())) {
      case Left(t) => Some(s"threw $t")
      case Right(_) => None
    }
    rng.shuffle(Reads ++ Seq.fill(CheapRepeats - 1)(Cheap).flatten).foreach(read)
    as("")
  }

  def finish(): Unit = {
    as("")
    if (deniedOps != plannedDenied)
      rec.fail(s"denied $deniedOps of $plannedDenied planned denials")
    val got = claims.read().select(ClaimCols.map(col): _*).collect().map(claim)
    val byKey = got.map(c => c._1 -> c).toMap
    if (byKey.size != got.length) rec.fail("claims holds duplicate keys")
    if (byKey != Model.rows.toMap)
      rec.fail(s"claims holds ${got.length} rows, model ${Model.rows.size}; " +
        s"${byKey.count { case (k, v) => !Model.rows.get(k).contains(v) }} differ")
    val land = landing.read().select(ClaimCols.map(col): _*).collect().map(claim)
    if (land.map(c => Digest.row(ClaimCols, row(c))).sum !=
        landingModel.map(c => Digest.row(ClaimCols, row(c))).sum || land.length != landingModel.size)
      rec.fail(s"landing holds ${land.length} rows, model ${landingModel.size}")
    // claims is the keyed merge of landing wherever no DML touched it
    val merged = mutable.HashMap.empty[Long, Claim]
    landingModel.foreach(c => merged(c._1) = c)
    val bad = merged.count { case (k, c) => !dmlKeys(k) && !byKey.get(k).contains(c) }
    if (bad > 0) rec.fail(s"$bad claims differ from the keyed merge of landing")
    rec.counts("stored_bytes") = (dirBytes(claims.location).values.sum +
      dirBytes(landing.location).values.sum).toDouble
    val dir = s"$work/ingested"
    frame(ingested).coalesce(1).write.mode("overwrite").parquet(dir)
    rec.counts("ingested_bytes") =
      dirBytes(dir).filter(_._1.endsWith(".parquet")).values.sum.toDouble
    if (rec.traced) appendSlope = appendProbe()
  }

  private var appendSlope = 0.0
  /** (live files before, ms) of each append the probe timed. */
  private val appendPoints = mutable.ArrayBuffer.empty[(Double, Double)]

  /** Append latency against the table's live files (traced runs only;
    * a round appends too few times to show it): 14 appends of the
    * same 480 claims, spread over all 24 months, to a fresh table
    * partitioned like `claims`, so each adds 24 files and the table
    * grows from 0 to over 300 files. Returns the least-squares slope
    * per 100 files, the first two appends left out as warm-up. */
  private def appendProbe(): Double = {
    val t = GraftTable.createEmpty(spark, s"$work/append_probe", claimSchema,
      Seq("month(claim_date)"))
    val batch = frame(pool.take(480))
    (0 until 14).foreach { _ =>
      val files = t.currentSnapshot.files.size.toDouble
      val t0 = System.nanoTime()
      t.append(batch)
      appendPoints += ((files, (System.nanoTime() - t0) / 1e6))
    }
    val pts = appendPoints.drop(2).toSeq
    val mx = pts.map(_._1).sum / pts.size.max(1)
    val my = pts.map(_._2).sum / pts.size.max(1)
    val sxx = pts.map(p => (p._1 - mx) * (p._1 - mx)).sum
    if (sxx == 0) 0.0 else pts.map(p => (p._1 - mx) * (p._2 - my)).sum / sxx * 100
  }

  def layers(): Seq[Metric] = {
    val reads = Reads.filterNot(_ == "sql_denied").flatMap(rec.latOf)
    val commits = rec.lat("commit")
    val batch = progress.map(_.durationMs.asScala.toMap)
    def dur(k: String) = Stats.median(batch.flatMap(_.get(k)).map(_.toDouble).toSeq)
    val an = rec.spanMedian("probe.fgac.analyze_team1")
    val ad = rec.spanMedian("probe.fgac.analyze_admin")
    val tracedReads = rec.spans.count(s => s.name.startsWith("op.") &&
      Reads.contains(s.name.stripPrefix("op.")) && s.name != "op.sql_denied").max(1)
    val planJobs = Reads.flatMap(c => Seq("analyze", "plan")
      .map(p => rec.counters.get(s"jobs|phase|$c|$p"))).sum
    val ops = rec.allLat.size.max(1)
    def perOp(k: String) =
      Seq("read", "commit", "batch").map(g => rec.counts(s"$k|$g")).sum / ops
    val co = rec.counts("commit_ops").max(1)
    Seq(
      Metric("read_p50_ms", Stats.median(reads), "ms"),
      Metric("read_p90_ms", Stats.quantile(reads, 0.9), "ms"),
      Metric("commit_p50_ms", Stats.median(commits), "ms"),
      Metric("commit_p90_ms", Stats.quantile(commits, 0.9), "ms"),
      Metric("batch_p50_ms", dur("triggerExecution"), "ms"),
      Metric("batch_p90_ms", Stats.quantile(batch.flatMap(_.get("triggerExecution"))
        .map(_.toDouble).toSeq, 0.9), "ms"),
      Metric("stored_bytes_per_input_byte", rec.counts("stored_bytes") /
        rec.counts("ingested_bytes").max(1), "ratio"),
      Metric("fgac.analyze_ms", an, "ms"),
      Metric("fgac.analyze_admin_ms", ad, "ms"),
      Metric("fgac.rewrite_ms", an - ad, "ms"),
      Metric("fgac.secure_ms", rec.spanMedian("fgac.secure_read") -
        rec.spanMedian("probe.lakehouse.plan"), "ms"),
      Metric("fgac.audit_events_per_op", (AuditLog.entries.size - audit0).toDouble / ops,
        "count"),
      Metric("fgac.denied_ops", rec.counts("denied"), "count"),
      Metric("lakehouse.plan_ms", Stats.median(rec.spanMs("probe.lakehouse.plan") ++
        rec.spanMs("lakehouse.plan_at")), "ms"),
      Metric("lakehouse.bind_view_ms", Stats.median(rec.latOf("bind_view")), "ms"),
      Metric("lakehouse.listing_jobs_per_read", planJobs.toDouble / tracedReads, "count"),
      Metric("lakehouse.files_per_scan", rec.counts("files_per_scan") /
        rec.counts("scans").max(1), "count"),
      Metric("lakehouse.files_pruned_frac", 1 - rec.counts("range_files") /
        rec.counts("range_live_files").max(1), "ratio"),
      Metric("lakehouse.manifest_reads_per_op", perOp("meta_opens"), "count"),
      Metric("lakehouse.listings_per_op", perOp("listings"), "count"),
      Metric("lakehouse.live_files", (patients.currentSnapshot.files.size +
        claims.currentSnapshot.files.size + landing.currentSnapshot.files.size).toDouble,
        "count"),
      Metric("lakehouse.files_added_per_commit", rec.counts("files_added") / co, "count"),
      Metric("lakehouse.bytes_written_per_commit", rec.counts("data_bytes") / co, "bytes"),
      Metric("lakehouse.metadata_bytes_per_commit", rec.counts("meta_bytes") / co, "bytes"),
      Metric("lakehouse.append_ms_per_100_files", appendSlope, "ms"),
      Metric("streaming.latest_offset_ms", dur("latestOffset"), "ms"),
      Metric("streaming.get_batch_ms", dur("getBatch"), "ms"),
      Metric("streaming.query_planning_ms", dur("queryPlanning"), "ms"),
      Metric("streaming.add_batch_ms", dur("addBatch"), "ms"),
      Metric("streaming.wal_commit_ms", dur("walCommit"), "ms"),
      Metric("streaming.commit_offsets_ms", dur("commitOffsets"), "ms"),
      Metric("streaming.rows_per_batch", progress.map(_.numInputRows).sum.toDouble /
        progress.size.max(1), "count"),
      Metric("streaming.batches", progress.size.toDouble, "count")) ++
      Seq("append", "merge", "delete_mor", "update", "delete_cow", "compact", "expire").map(c =>
        Metric(s"lakehouse.commit_ms.$c", Stats.median(rec.latOf(c)), "ms"))
  }
}
