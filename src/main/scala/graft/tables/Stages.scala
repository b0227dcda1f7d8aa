package graft.tables

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.charset.StandardCharsets

/** Shared JSON (de)serialization for table/stage manifests — a real parser
  * (Jackson + the Scala module, shipped with Spark), never regexes: field
  * reordering or added fields must not corrupt a manifest read. Writes are
  * atomic (temp file + rename), so a manifest is either absent or whole. */
object ManifestJson {
  import com.fasterxml.jackson.databind.ObjectMapper
  import com.fasterxml.jackson.module.scala.DefaultScalaModule
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def writeAtomic(path: Path, value: Any): Unit = {
    val tmp = path.resolveSibling(path.getFileName.toString + ".tmp")
    Files.createDirectories(path.getParent)
    Files.write(tmp, mapper.writeValueAsBytes(value))
    Files.move(tmp, path, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  def read[T](path: Path, cls: Class[T]): T =
    mapper.readValue(Files.readAllBytes(path), cls)
}

/** One upstream dependency of a stage, pinned at the snapshot it was read
  * at. Field names are the on-disk JSON names. */
case class InputRef(stage: String, snapshot_id: Long)
case class PartStat(pid: Int, rows: Long)
case class StageManifest(stage: String, snapshot_id: Long, rows: Long,
                         inputs: Seq[InputRef], partitions: Seq[PartStat],
                         wall_ms: Long, data_dir: String, committed_at: String,
                         // Spark schema JSON of the committed data: resolving
                         // a committed stage reads with this EXPLICIT schema,
                         // so serving a snapshot never runs a footer-inference
                         // job (probe paths stay zero-job) and a corrupted/
                         // swapped data file can never silently change the
                         // stage's published schema. Null on pre-r5 manifests
                         // (falls back to inference).
                         schema_json: String = null)

/**
 * Checkpoint-resumable stage runner with Iceberg-lite snapshot semantics
 * (north_rule: "resumable from checkpoint with per-partition lineage +
 * metrics"). No Iceberg runtime jar exists in this offline environment
 * (SURVEY.md env facts), so the table layer provides the same guarantees
 * over plain parquet:
 *
 *  - **atomic commit**: stage output is written to a NEW versioned dir
 *    `<stage>/data_v<snapshot>`, then a manifest JSON pointing at it is
 *    moved into place with an atomic rename — the Iceberg pointer-swap. A
 *    stage without a manifest is invisible; a crash mid-write leaves the
 *    previous snapshot's data intact and still served (never a partial
 *    overwrite of live data), and concurrent readers of the previous
 *    snapshot are never written under.
 *  - **snapshot versioning + time travel** (SURVEY §7.5): every commit
 *    gets a monotonically increasing `snapshot_id` (a base-level ledger
 *    keeps ids monotonic even across a deleted-and-rebuilt stage dir), the
 *    manifest records each INPUT stage's snapshot id at read time, and
 *    [[readAsOf]] serves any snapshot still inside the retention window
 *    ([[keepSnapshots]], default 2 — current + previous).
 *  - **resume**: a committed stage is recomputed IFF an input's snapshot
 *    id advanced (or its own manifest is gone) — rerunning an upstream
 *    stage invalidates exactly its downstream cone; untouched chains are
 *    never recomputed and can never silently serve stale data. This
 *    generalizes the reference's JSON/tile memoization (lib/loaders.py:
 *    13-16, lib/layers.py:77-79) with staleness tracking it lacked.
 *  - **lineage + metrics**: the manifest records per-partition row counts
 *    (read from the committed parquet files' footers, no extra Spark job),
 *    total rows, input refs, and the commit timestamp.
 *
 * The interface is deliberately narrow (resolve-or-compute + manifest) so a
 * real Iceberg catalog can be slotted in on a cluster.
 */
object StageRunner {
  /** One JVM-wide lock per stage base dir: serializes the ledger
    * read-modify-write of concurrent stage commits (different stage
    * NAMES — same-name concurrency remains the caller's to avoid). */
  private val locks = new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private[tables] def ledgerLock(baseDir: String): Object =
    locks.computeIfAbsent(baseDir, _ => new Object)
}

final class StageRunner(spark: SparkSession, baseDir: String,
                        val keepSnapshots: Int = 2) {
  require(keepSnapshots >= 1, "must retain at least the current snapshot")
  Files.createDirectories(Paths.get(baseDir))

  def manifestPath(name: String) = Paths.get(s"$baseDir/$name/manifest.json")
  /** Immutable per-version manifest — the commit HISTORY; `manifest.json`
    * is only the current pointer. A version without its manifest_v file
    * was never committed (crash orphan) and is never servable. */
  def versionManifestPath(name: String, id: Long) =
    Paths.get(s"$baseDir/$name/manifest_v$id.json")
  /** Data dir of the CURRENT committed snapshot (resolved through the
    * manifest; "data" is the legacy pre-versioning layout). */
  def dataPath(name: String): String =
    s"$baseDir/$name/${manifestObj(name).map(dataDirOf).getOrElse("data")}"
  private def dataDirOf(m: StageManifest): String =
    Option(m.data_dir).filter(_.nonEmpty).getOrElse("data")
  private val ledgerPath = Paths.get(s"$baseDir/_snapshots.json")

  def isCommitted(name: String): Boolean = Files.exists(manifestPath(name))

  private def rmTree(dir: Path): Unit = if (Files.exists(dir)) {
    val walk = Files.walk(dir)
    try walk.sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(p => Files.deleteIfExists(p))
    finally walk.close()
  }

  /** Read a manifest's committed data with its RECORDED schema (no
    * inference job); legacy manifests without one infer as before. */
  private def readData(name: String, m: StageManifest): DataFrame = {
    val path = s"$baseDir/$name/${dataDirOf(m)}"
    Option(m.schema_json).filter(_.nonEmpty) match {
      case Some(j) => spark.read.schema(
        org.apache.spark.sql.types.DataType.fromJson(j)
          .asInstanceOf[org.apache.spark.sql.types.StructType]).parquet(path)
      case None => spark.read.parquet(path)
    }
  }

  /** None when absent OR unreadable (e.g. a manifest written by an older
    * release whose schema predates snapshot ids) — an unreadable manifest
    * means "not committed", so the stage recomputes instead of aborting
    * the whole run. */
  def manifestObj(name: String): Option[StageManifest] =
    if (!isCommitted(name)) None
    else try Some(ManifestJson.read(manifestPath(name), classOf[StageManifest]))
    catch { case _: com.fasterxml.jackson.core.JacksonException => None }

  /** stage -> last snapshot id ever committed (survives stage-dir loss). */
  private def ledger(): Map[String, Long] =
    if (Files.exists(ledgerPath)) {
      import scala.jdk.CollectionConverters._
      ManifestJson.mapper.readValue(Files.readAllBytes(ledgerPath),
        classOf[java.util.Map[String, Number]]).asScala.toMap.map {
          case (k, v) => k -> v.longValue()
        }
    } else Map.empty

  /** Drop a stage's manifest (data stays): the stage recommits with a
    * bumped snapshot id on the next run, and every downstream stage's
    * recorded input refs go stale — the "touch upstream" operation. */
  def invalidate(name: String): Unit = Files.deleteIfExists(manifestPath(name))

  /** Run (or resume) a stage. `inputs` are upstream stage names (must be
    * committed) recorded as snapshot-pinned lineage. Returns the committed
    * stage's DataFrame. */
  def stage(name: String, inputs: Seq[String] = Nil)(compute: => DataFrame): DataFrame = {
    val inputRefs = inputs.map { i =>
      val m = manifestObj(i).getOrElse(
        throw new IllegalStateException(s"stage '$name' input '$i' is not committed"))
      InputRef(i, m.snapshot_id)
    }
    ensureHistory(name)
    val cur = manifestObj(name)
    val fresh = cur.exists(_.inputs.toSet == inputRefs.toSet)
    if (!fresh) {
      // write the NEW snapshot beside the old one, never over it: the
      // previous snapshot stays intact and served until the manifest
      // pointer-swap below commits (crash mid-write = orphan dir — never
      // committed, never servable, reaped by the next expire; live data
      // untouched)
      commitSnapshot(name, compute, inputRefs, prevServed = cur.map(_.snapshot_id))
    } else readData(name, cur.get)
  }

  /** Write `df` as the stage's next snapshot and pointer-swap-commit it
    * (shared by [[stage]] and [[compactStage]]). `expectRows` (the
    * compaction rows-guard) is checked AFTER the data write but BEFORE
    * any ledger/manifest mutation: on drift the orphan data dir is
    * deleted and the CURRENT snapshot stays served — the abort message
    * is then true without any manual rollback (ADVICE r5 #1). */
  private def commitSnapshot(name: String, df: => DataFrame,
                             inputRefs: Seq[InputRef],
                             prevServed: Option[Long],
                             expectRows: Option[Long] = None): DataFrame = {
    val t0 = System.nanoTime()
    val snapId = math.max(ledger().getOrElse(name, 0L),
      prevServed.getOrElse(0L)) + 1
    val newDir = s"data_v$snapId"
    df.write.mode("overwrite").parquet(s"$baseDir/$name/$newDir")
    val written = spark.read.parquet(s"$baseDir/$name/$newDir")
    // per-partition lineage stats from the parquet FOOTERS (driver-side
    // metadata reads) — the previous spark_partition_id count job cost
    // one full Spark job per stage commit (~20 jobs per cold index
    // build); footer row counts are exact and pid = the writer task id
    // from the part file name
    val parts = {
      val dir = new java.io.File(s"$baseDir/$name/$newDir")
      val conf = spark.sparkContext.hadoopConfiguration
      Option(dir.listFiles()).getOrElse(Array.empty)
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .flatMap { f =>
          "part-(\\d+)".r.findFirstMatchIn(f.getName).map { m =>
            val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
              org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
                new org.apache.hadoop.fs.Path(f.getAbsolutePath), conf))
            try PartStat(m.group(1).toInt, rd.getRecordCount) finally rd.close()
          }
        }.sortBy(_.pid).toSeq
    }
    val total = parts.map(_.rows).sum
    expectRows.filter(_ != total).foreach { exp =>
      rmTree(Paths.get(s"$baseDir/$name/$newDir")) // reap the orphan
      throw new IllegalStateException(
        s"compactStage('$name') row drift: $exp -> $total — rewrite aborted " +
          s"BEFORE commit; snapshot ${prevServed.getOrElse(-1L)} is still current")
    }
    val manifest = StageManifest(name, snapId, total, inputRefs, parts,
      (System.nanoTime() - t0) / 1000000L, newDir, java.time.Instant.now().toString,
      written.schema.json)
    // ledger is RE-READ at write time: a compute thunk may itself run
    // stages, and a stale early read would erase their entries. The
    // read-modify-write is synchronized per base dir so CONCURRENT
    // commits of different stages (the parallel index-build chains,
    // guide §2.6) can never lose each other's entries.
    StageRunner.ledgerLock(baseDir).synchronized {
      val led = ledger()
      val newLedger = new java.util.TreeMap[String, java.lang.Long]()
      (led + (name -> snapId)).foreach { case (k, v) => newLedger.put(k, v) }
      ManifestJson.writeAtomic(ledgerPath, newLedger)
    }
    // commit order: immutable history entry first, then the pointer swap
    ManifestJson.writeAtomic(versionManifestPath(name, snapId), manifest)
    ManifestJson.writeAtomic(manifestPath(name), manifest)
    expireSnapshots(name, manifest, prevServed = prevServed)
    readData(name, manifest)
  }

  /** Data-file MAINTENANCE — the Iceberg OPTIMIZE / rewrite-data-files
    * analog: rewrite the CURRENT snapshot's rows as `targetFiles` files
    * range-partitioned AND sorted by `sortCols` (pass the morton layout
    * key: [[graft.pipeline.CellOps]].mortonOf makes every axis-aligned
    * block one contiguous range), committed as a NEW snapshot of the
    * same stage. Rows are REQUIRED identical (count-guarded loudly);
    * `inputs` lineage carries over verbatim so downstream freshness
    * semantics are untouched — a later resolve of this stage still
    * compares the same input refs and serves the compacted snapshot.
    * The pre-compaction snapshot stays in the retention window
    * (readAsOf rollback). After the rewrite each file owns one disjoint
    * sort-key range, so range predicates (CellCoverPushdown's injected
    * conjuncts, mortonRangesOfCover's BETWEENs) skip whole files by
    * footer stats instead of scanning a key-scattered layout — the
    * small-files + clustering maintenance a long-lived 10^12-row table
    * runs continuously. */
  def compactStage(name: String, sortCols: Seq[String], targetFiles: Int): DataFrame = {
    require(targetFiles >= 1, s"targetFiles=$targetFiles must be >= 1")
    require(sortCols.nonEmpty, "compactStage needs at least one sort column")
    ensureHistory(name)
    val cur = manifestObj(name).getOrElse(throw new IllegalStateException(
      s"compactStage('$name'): stage is not committed"))
    // rows-guard BEFORE the pointer swap (expectRows): a drifted rewrite
    // deletes its orphan data dir and throws with the current snapshot
    // still served — never a committed-then-rolled-back state (ADVICE r5)
    commitSnapshot(name,
      readData(name, cur)
        .repartitionByRange(targetFiles, sortCols.map(col): _*)
        .sortWithinPartitions(sortCols.map(col): _*),
      cur.inputs, prevServed = Some(cur.snapshot_id), expectRows = Some(cur.rows))
  }

  /** Committed version ids still on disk (from the immutable per-version
    * manifests — commit HISTORY, not directory listing). Anchored match:
    * a crashed writeAtomic's `manifest_vN.json.tmp` must never count as a
    * committed version (it would poison retention into evicting a real
    * snapshot early). */
  def committedVersions(name: String): Seq[Long] = {
    val stageDir = Paths.get(s"$baseDir/$name")
    if (!Files.isDirectory(stageDir)) return Seq.empty
    val children = Files.list(stageDir)
    try children.toArray.map(_.asInstanceOf[Path].getFileName.toString)
      .flatMap("^manifest_v(\\d+)\\.json$".r.findFirstMatchIn(_).map(_.group(1).toLong))
      .sorted.toSeq
    finally children.close()
  }

  /** Migration: a baseDir written by the release that versioned data dirs
    * but kept no per-version history gets its CURRENT snapshot's history
    * entry synthesized from the pointer manifest, so readAsOf/retention
    * honor it instead of treating it as a crash orphan. */
  private def ensureHistory(name: String): Unit =
    manifestObj(name).foreach { m =>
      val vp = versionManifestPath(name, m.snapshot_id)
      if (dataDirOf(m) != "data" && !Files.exists(vp))
        ManifestJson.writeAtomic(vp, m)
    }

  /** Retention: keep the newest [[keepSnapshots]] COMMITTED versions, the
    * current snapshot, and the snapshot the pointer served BEFORE this
    * commit (`prevServed` — a history entry whose pointer swap crashed was
    * never served and must not push the real rollback target out of the
    * window). Un-committed (orphan) data dirs are reaped only once their
    * id falls [[keepSnapshots]] behind the current one — the grace window
    * for a concurrently in-flight writer. A legacy unversioned `data` dir
    * (the pre-migration copy) survives as the rollback target until
    * [[keepSnapshots]] committed versions exist, then drops. */
  private def expireSnapshots(name: String, current: StageManifest,
                              prevServed: Option[Long]): Unit = {
    val stageDir = Paths.get(s"$baseDir/$name")
    val keepIds = committedVersions(name).takeRight(keepSnapshots).toSet +
      current.snapshot_id ++ prevServed
    val children = Files.list(stageDir)
    val dirs =
      try children.toArray.map(_.asInstanceOf[Path]).filter(Files.isDirectory(_))
      finally children.close()
    dirs.foreach { p =>
      val n = p.getFileName.toString
      val versioned = "^data_v(\\d+)$".r.findFirstMatchIn(n).map(_.group(1).toLong)
      val expired = versioned match {
        case Some(v) if v == current.snapshot_id => false
        case Some(v) if Files.exists(versionManifestPath(name, v)) => !keepIds.contains(v)
        case Some(v) => v <= current.snapshot_id - keepSnapshots // orphan past grace
        // a legacy unversioned `data` dir is the only pre-migration copy —
        // it is the de-facto rollback target of the FIRST versioned commit
        // (whether the legacy manifest was readable or not), so it is
        // retained until keepSnapshots committed versions exist, exactly
        // the "previous snapshot stays intact" retention claim
        case None => n == "data" && dataDirOf(current) != "data" &&
          committedVersions(name).size >= keepSnapshots
      }
      if (expired) {
        rmTree(p)
        versioned.foreach(v => Files.deleteIfExists(versionManifestPath(name, v)))
      }
    }
    // history entries of versions whose data is gone serve nothing
    committedVersions(name).filterNot(keepIds.contains)
      .foreach(v => Files.deleteIfExists(versionManifestPath(name, v)))
  }

  /** Time travel: the stage's output AS OF `snapshotId`. Only COMMITTED
    * snapshots inside the retention window are servable — a data dir
    * without its immutable version manifest (a crash orphan) refuses. */
  def readAsOf(name: String, snapshotId: Long): DataFrame = {
    ensureHistory(name)
    val m = versionManifestPath(name, snapshotId)
    val p = Paths.get(s"$baseDir/$name/data_v$snapshotId")
    require(Files.exists(m) && Files.isDirectory(p),
      s"snapshot $snapshotId of stage '$name' is not a retained committed snapshot " +
        s"(committed: ${committedVersions(name).mkString(",")}, keepSnapshots=$keepSnapshots)")
    readData(name, ManifestJson.read(m, classOf[StageManifest]))
  }

  def manifest(name: String): Option[String] =
    if (isCommitted(name)) Some(new String(Files.readAllBytes(manifestPath(name)), StandardCharsets.UTF_8))
    else None

  def rowCount(name: String): Option[Long] = manifestObj(name).map(_.rows)

  def snapshotId(name: String): Option[Long] = manifestObj(name).map(_.snapshot_id)
}

/** Deterministic, partitioning-invariant sampling (SURVEY.md §2.7 SA1-SA4):
  * rank rows by a keyed 64-bit hash and take the top K. Uniform without
  * replacement, reproducible across parallelism levels — the property that
  * makes the N vs 4N scaling-equality claim checkable. Replaces the
  * reference's sequential random.shuffle / rejection sampling
  * (make_original.py:28-29, lib/helpers.py:157-215) whose busy/free
  * adaptive machinery is a sequential-RNG artifact. */
object HashRank {
  import org.apache.spark.sql.Column
  def rank(key: Column, seed: Long): Column = xxhash64(key, lit(seed))
  /** Stable sample of n rows by hash-rank on `key` (ties broken by key). */
  def sample(df: DataFrame, key: String, seed: Long, n: Int): DataFrame =
    df.orderBy(rank(col(key), seed), col(key)).limit(n)
}
