package graft.etl

import java.io.{ByteArrayInputStream, File}
import java.nio.charset.StandardCharsets
import java.util.zip.ZipInputStream
import scala.collection.mutable
import scala.util.{Failure, Success, Try}
import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.apache.spark.storage.StorageLevel

/** One simulation run's parsed metadata (reference metadata.json,
  * generate_synthetic_idaice.py:167-175).
  */
final case class RunMetadata(
    building_id: String,
    scenario_id: String,
    building_name: String,
    location: String,
    floor_area_m2: Long,
    description: String,
    generated_at: String)

/** ZIP-bundle extraction (SURVEY §2.1 S1-S6), one path for a directory
  * ([[extractRuns]]) and for a single keyed bundle ([[extractRunById]]).
  *
  * The `binaryFile` source reads every `run_*.zip` on executors; a flatMap
  * unzips each bundle and checks its layout ([[validateLayout]]), emitting
  * its five members as text rows, or ONE error row for a bad bundle, never
  * an exception that kills the job. The decompressed members are persisted
  * and one verdict pass over them returns a row per bundle: its layout
  * error, the CSV members with malformed lines (a PERMISSIVE `from_csv`),
  * and its metadata.json text, which the driver parses. The driver applies
  * the reference's <50% failure tolerance to the verdicts and builds the
  * member tables from the surviving bundles only. The job count does not
  * grow with the bundle count: 100k run bundles are one distributed scan.
  */
object Extract {

  /** The surviving bundles of one ingest. `metadata` is in zip-file-name
    * order; `tables` holds one DataFrame per member kind (`zones`, `hvac`,
    * `meters`, `weather`, `metadata`), each with a `run_id` column (the
    * bundle's root directory) and an `__ord` column (its zip file name: the
    * reference's sorted-listing order). The tables read one persisted
    * decompression pass: call `release()` once every consumer has
    * materialized its own caches or writes.
    */
  final case class Extracted(metadata: Seq[RunMetadata],
      tables: Map[String, DataFrame], private val members: DataFrame) {
    def release(): Unit = { members.unpersist(); () }
  }

  /** Required members of a run bundle under its single root directory
    * (reference: extract/__init__.py:49-63).
    */
  private val requiredMembers: Set[String] =
    Schemas.requiredCsvMembers.keySet + "metadata.json"

  private def unzip(bundle: String, bytes: Array[Byte]): Map[String, Array[Byte]] = {
    val out = mutable.Map[String, Array[Byte]]()
    val zin = new ZipInputStream(new ByteArrayInputStream(bytes))
    try {
      var e = zin.getNextEntry
      while (e != null) {
        if (!e.isDirectory) out(e.getName) = zin.readAllBytes()
        e = zin.getNextEntry
      }
    } catch {
      case NonFatal(_) => throw new IllegalArgumentException(s"not a valid zip archive: $bundle")
    } finally zin.close()
    out.toMap
  }

  /** Validates the bundle layout: every member under one root dir, all five
    * required files present (reference: extract/__init__.py:44-63).
    * Returns (rootDir, required member base name → bytes).
    */
  private def validateLayout(bundle: String,
      members: Map[String, Array[Byte]]): (String, Map[String, Array[Byte]]) = {
    if (members.isEmpty)
      throw new IllegalArgumentException(s"empty archive: $bundle")
    val roots = members.keys.map(_.split("/", 2)(0)).toSet
    if (roots.size != 1)
      throw new IllegalArgumentException(
        s"expected a single root directory in $bundle, found: ${roots.toSeq.sorted.mkString(", ")}")
    val root = roots.head
    val byBase = members.map { case (k, v) => k.stripPrefix(s"$root/") -> v }
    val missing = requiredMembers -- byBase.keySet
    if (missing.nonEmpty)
      throw new IllegalArgumentException(
        s"missing required members in $bundle: ${missing.toSeq.sorted.mkString(", ")}")
    (root, byBase.filter { case (k, _) => requiredMembers(k) })
  }

  private[etl] def parseMetadata(bytes: Array[Byte]): RunMetadata = {
    // Jackson ships with Spark — parse the one small JSON object driver-side.
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.readTree(bytes)
    def str(f: String): String = {
      val n = node.get(f)
      if (n == null) throw new IllegalArgumentException(s"metadata.json missing field: $f")
      n.asText()
    }
    val floorArea = {
      val n = node.get("floor_area_m2")
      if (n == null || !n.canConvertToLong)
        throw new IllegalArgumentException(
          "metadata.json missing or non-numeric field: floor_area_m2")
      n.asLong()
    }
    RunMetadata(
      building_id = str("building_id"),
      scenario_id = str("scenario_id"),
      building_name = str("building_name"),
      location = str("location"),
      floor_area_m2 = floorArea,
      description = str("description"),
      generated_at = if (node.has("generated_at")) node.get("generated_at").asText() else "")
  }

  /** Directory ingest of `run_*.zip`, tolerating up to 50% failed bundles
    * (reference: extract/__init__.py:96-137).
    */
  def extractRuns(spark: SparkSession, simulationsDir: String): Extracted = {
    if (!new File(simulationsDir).isDirectory)
      throw new java.io.FileNotFoundException(s"not a directory: $simulationsDir")
    ingest(spark, simulationsDir) { (n, failures) =>
      if (n == 0)
        throw new IllegalArgumentException(s"no run_*.zip archives in $simulationsDir")
      if (failures.length * 2 >= n)
        throw new RuntimeException(
          s"too many extraction failures (${failures.length}/$n): " + failures.mkString("; "))
      failures.foreach(f => System.err.println(s"[extract] skipping failed run $f"))
    }
  }

  /** Keyed single-run lookup: `run_{building}_{scenario}.zip`
    * (reference: extract/__init__.py:140-161). A bad bundle raises its own
    * error as an IllegalArgumentException.
    */
  def extractRunById(spark: SparkSession, simulationsDir: String,
      buildingId: String, scenarioId: String): Extracted = {
    val zip = new File(simulationsDir, s"run_${buildingId}_${scenarioId}.zip")
    if (!zip.exists()) throw new java.io.FileNotFoundException(zip.getPath)
    ingest(spark, zip.getPath) { (_, failures) =>
      failures.headOption.foreach(f => throw new IllegalArgumentException(f))
    }
  }

  /** Reads the bundles under `path`, judges each in one verdict pass, lets
    * `tolerate(bundleCount, failures)` accept or reject the failures, and
    * returns the surviving bundles.
    */
  private def ingest(spark: SparkSession, path: String)(
      tolerate: (Int, Seq[String]) => Unit): Extracted = {
    import spark.implicits._
    val members = readMembers(spark, path)
    val judged = try {
      val all = verdicts(members).sortBy(_.getString(0)).map(r => r.getString(0) -> judge(r))
      tolerate(all.length, all.collect { case (b, Left(e)) => s"$b: $e" }.toSeq)
      all
    } catch { case NonFatal(e) => members.unpersist(); throw e }
    val good = judged.collect { case (b, Right((runId, m))) => (b, runId, m) }.toSeq
    val failed = judged.collect { case (b, Left(_)) => b }.toSeq
    val metadata = good.toDF("__ord", "run_id", "m").select($"run_id", $"m.*", $"__ord")
    Extracted(good.map(_._3),
      csvTables(spark, members.where(!$"bundle".isin(failed: _*))) + ("metadata" -> metadata),
      members)
  }

  /** (bundle, run_id, member, text, error), persisted: the five required
    * members of each good bundle, or one row with the error of a bad one.
    * `bundle` is the zip file name.
    */
  private def readMembers(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "run_*.zip")
      .load(path)
      .select($"path", $"content")
      .as[(String, Array[Byte])]
      .flatMap { case (p, bytes) =>
        val bundle = p.substring(p.lastIndexOf('/') + 1)
        Try(validateLayout(bundle, unzip(bundle, bytes))) match {
          case Success((root, byBase)) => byBase.toSeq.map { case (m, b) =>
            (bundle, root, m, new String(b, StandardCharsets.UTF_8), null: String) }
          case Failure(e) => Seq((bundle, null: String, null: String, null: String, e.getMessage))
        }
      }
      .toDF("bundle", "run_id", "member", "text", "error")
      .persist(StorageLevel.MEMORY_AND_DISK)
  }

  private def isData(line: Column): Column =
    length(trim(line)) > 0 && !line.startsWith("timestamp") // not blank, not the header

  /** One row per bundle: (bundle, run_id, error, sorted names of the CSV
    * members with a malformed line, metadata.json text). Malformed means
    * what FAILFAST would throw on: PERMISSIVE fills the corrupt-record
    * column for exactly those lines.
    */
  private def verdicts(members: DataFrame): Array[Row] = {
    val corrupt = "_corrupt_record"
    val malformed = Schemas.requiredCsvMembers.toSeq.map { case (name, schema) =>
      when(col("member") === name,
        exists(split(col("text"), "\r?\n"), l => isData(l) &&
          from_csv(l, schema.add(corrupt, StringType),
            Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> corrupt))
            .getField(corrupt).isNotNull))
    }
    members.groupBy(col("bundle"))
      .agg(max(col("run_id")), max(col("error")),
        sort_array(collect_list(when(coalesce(malformed: _*), col("member")))),
        max(when(col("member") === "metadata.json", col("text"))))
      .collect()
  }

  /** A verdict row's outcome: the failure message, or (run_id, metadata). */
  private def judge(r: Row): Either[String, (String, RunMetadata)] = {
    val malformed = r.getSeq[String](3)
    if (r.getString(2) != null) Left(r.getString(2))
    else if (malformed.nonEmpty) Left(s"malformed CSV lines in ${malformed.mkString(", ")}")
    else Try(parseMetadata(r.getString(4).getBytes(StandardCharsets.UTF_8))) match {
      case Success(m) => Right(r.getString(1) -> m)
      case Failure(e) => Left(e.getMessage)
    }
  }

  /** The four CSV members of `members` parsed with `from_csv` against the
    * declared schemas.
    */
  private def csvTables(spark: SparkSession, members: DataFrame): Map[String, DataFrame] = {
    import spark.implicits._
    Schemas.requiredCsvMembers.map { case (name, schema) =>
      val lines = members
        .where($"member" === name)
        // arrayBarrier: stops InferFiltersFromGenerate from re-splitting the
        // whole file text inside a pushed-down per-row filter
        .select($"run_id", $"bundle".as("__ord"),
          explode(graft.functions.TextFunctions.arrayBarrier(
            split($"text", "\r?\n"))).as("line"))
        .where(isData($"line"))
      // FAILFAST is an assertion here: the verdict pass already dropped
      // every bundle with a malformed line, and PERMISSIVE would silently
      // null a cell in a column the schema declares non-null
      val table = lines.select($"run_id", $"__ord",
        from_csv($"line", schema, Map("mode" -> "FAILFAST")).as("r"))
        .select(($"run_id" +: $"__ord" +: schema.fieldNames.toIndexedSeq.map(f => col(s"r.$f"))): _*)
      name.stripSuffix(".csv") -> table
    }
  }

  /** PERMISSIVE CSV reader with a quarantine lane — the production
    * complement to the bundle reader above. Failing the bundle is right when
    * a corrupt file should fail its RUN (the <50% run-tolerance contract);
    * at fleet scale a single mangled row must NOT kill a 100 TB job — it
    * routes to quarantine with its raw text intact for triage, and the
    * clean rows flow on. Returns (good, quarantined): `good` carries the
    * declared schema; `quarantined` carries the verbatim offending line.
    *
    * The raw read is cached before splitting: Spark disallows filtering a
    * lazy CSV relation on ONLY the internal corrupt-record column
    * (SPARK-38523 family — the column is populated during parsing of the
    * OTHER columns, so a corrupt-only projection would read nothing); the
    * cache also makes the two lanes consistent — one parse feeds both,
    * so a row can never appear in neither or both.
    *
    * Cache lifecycle at scale: pinning a whole 100 TB input in executor
    * memory is itself a hazard, so the materialization is
    * MEMORY_AND_DISK-by-size (Spark spills oversized partitions rather
    * than evict-and-reparse, which would break lane consistency) and the
    * handle is RETURNED — call `release()` once both lanes are consumed.
    */
  final case class QuarantineRead(good: DataFrame, quarantined: DataFrame,
      private val raw: DataFrame) {
    /** Drop the pinned one-parse materialization once both lanes are
      * consumed (blocking=false: lazy executor-side eviction). Releasing
      * ENDS the read: the lanes must not be re-executed afterwards —
      * uncached, their plans re-hit Spark's corrupt-record-only-filter
      * restriction (SPARK-38523 family), the very thing the
      * materialization exists to avoid.
      */
    def release(): Unit = raw.unpersist(blocking = false)
  }

  def readCsvQuarantine(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType)
      : QuarantineRead = {
    require(!schema.fieldNames.contains("_corrupt_record"),
      "schema must not already declare _corrupt_record")
    val withCorrupt = schema.add("_corrupt_record",
      org.apache.spark.sql.types.StringType, nullable = true)
    val raw = spark.read
      .schema(withCorrupt)
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .csv(path)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val good = raw.where(col("_corrupt_record").isNull)
      .drop("_corrupt_record")
    val bad = raw.where(col("_corrupt_record").isNotNull)
      .select(col("_corrupt_record").as("raw_line"))
    QuarantineRead(good, bad, raw)
  }

}
