package graft.runtime

import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import scala.jdk.CollectionConverters._
import scala.util.Using
import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}
import Checkpoint.{jsonEscape, jsonLong, jsonString, writeAtomic}

/**
 * Per-stage checkpoint commits with lineage + counters (the north rule's
 * resumability contract). Production target is an Iceberg catalog —
 * snapshot-per-stage with tags (SURVEY.md §2.1 S6-S8); this sandbox ships
 * no Iceberg jars, so the same contract is implemented over Parquet
 * directories with an atomically-written `_MANIFEST.json`:
 *
 *   <root>/<stage>/data/      parquet (the committed stage output)
 *   <root>/<stage>/_MANIFEST.json   {stage, rows, schema, inputs, wallSec, observed, ts}
 *
 * A stage whose manifest exists is NOT recomputed — `runStage` returns the
 * committed parquet instead (resume-from-checkpoint). Parquet's _SUCCESS
 * marker + manifest-after-write gives commit atomicity at the stage level;
 * Iceberg would give it per-partition.
 *
 * Cost model: a commit is ONE write job. The manifest's `rows` comes from
 * an `observe` count riding that job, and the committed output is read
 * back, then and on every resume, with the schema the manifest records,
 * so neither costs a job of its own.
 */
final class Checkpoint(spark: SparkSession, root: String) {

  private def stageDir(stage: String) = s"$root/$stage"
  private def manifestPath(stage: String) = Paths.get(s"$root/$stage/_MANIFEST.json")

  def isCommitted(stage: String): Boolean = Files.exists(manifestPath(stage))

  /** Read a committed stage with the schema its manifest records: no
    * schema-inference job, and an empty stage keeps its columns. A
    * manifest without a schema is refused rather than inferred from.
    */
  def read(stage: String): DataFrame = {
    val manifest = Files.readString(manifestPath(stage))
    val schema = jsonString(manifest, "schema").getOrElse(
      throw new IllegalStateException(s"manifest of $stage records no schema: $manifest"))
    spark.read.schema(DataType.fromJson(schema).asInstanceOf[StructType])
      .parquet(s"${stageDir(stage)}/data")
  }

  /** Run `compute` unless the stage is already committed; write parquet +
    * manifest (rows counter + schema + lineage inputs + wall-clock).
    */
  def runStage(stage: String, inputs: Seq[String])(compute: => DataFrame): DataFrame = {
    if (isCommitted(stage)) return read(stage)
    val t0 = System.nanoTime()
    val before = Observed.snapshot()
    val df = compute
    val rows = observedWrite(df, count(lit(1))) {
      _.write.mode("overwrite").parquet(s"${stageDir(stage)}/data")
    }.getLong(0)
    writeManifest(stage, s""""rows":$rows,"schema":"${jsonEscape(df.schema.json)}"""",
      inputs, t0, before)
    read(stage)
  }

  private def bucketManifestPath(stage: String, b: Int) =
    Paths.get(s"$root/$stage/_BUCKET_$b.json")

  /** Write `df` with `metrics` observed on the write job itself; returns
    * the observed row, which arrives on the listener bus after the job.
    * The observation is not registry-minted, so [[Observed]] does not
    * harvest it as a drop counter.
    */
  private def observedWrite(df: DataFrame, metrics: Column*)(write: DataFrame => Unit): Row = {
    val obs = Observation()
    write(df.observe(obs, metrics.head, metrics.tail: _*))
    Observed.await(obs)
  }

  /** Commit the stage manifest: `fields` (rows + layout), lineage inputs,
    * wall-clock since `t0` and the observed drop-counter delta since
    * `before` — the registry is process-cumulative, so a stage that
    * dropped nothing shows no counters even when an earlier stage did.
    */
  private def writeManifest(stage: String, fields: String, inputs: Seq[String], t0: Long,
                            before: Map[String, Map[String, Long]]): Unit =
    writeAtomic(manifestPath(stage),
      s"""{"stage":"$stage",$fields,"inputs":[${inputs.map(i => "\"" + i + "\"").mkString(",")}],""" +
        s""""wallSec":${(System.nanoTime() - t0) / 1e9},"observed":${observedDelta(before)},""" +
        s""""ts":"${java.time.Instant.now()}"}""")

  /** Per-PARTITION commit granularity (the north rule's resumability unit;
    * Iceberg snapshots would give this natively — this is the parquet
    * stand-in): the stage output is hash-bucketed on `bucketCol` into
    * `nBuckets` buckets, each manifested independently, so a resume
    * recomputes ONLY the buckets whose manifests are missing. The hash
    * bucketing is deterministic (xxhash64), so a resumed compute produces
    * identical bucket contents.
    *
    * Layout: <root>/<stage>/data/bucket=<i>/  + _BUCKET_<i>.json each,
    * then the usual _MANIFEST.json (rows = the bucket manifests' sum, plus
    * the stage schema, so an empty stage resumes with its columns).
    * Cost model: ONE partitioned write job for every missing bucket, with
    * the per-bucket row counts observed on it. Buckets written by one
    * attempt commit together when its job ends: a kill during that job
    * recomputes all of that attempt's buckets, while buckets committed by
    * an earlier attempt cost zero compute and are never rewritten.
    */
  def runStagePartitioned(stage: String, inputs: Seq[String], bucketCol: String,
                          nBuckets: Int = 16)(compute: => DataFrame): DataFrame = {
    if (isCommitted(stage)) return readPartitioned(stage)
    val t0 = System.nanoTime()
    val before = Observed.snapshot()
    // the bucket count IS the data's hash modulus, so the scheme is
    // committed first and validated on every resume — as an exact string
    // (fixed field order): a substring match would let '"nBuckets":16'
    // accept a resume with nBuckets=1
    val schemeLine =
      s"""{"stage":"$stage","bucketCol":"$bucketCol","nBuckets":$nBuckets}"""
    val schemePath = Paths.get(s"$root/$stage/_BUCKETING.json")
    if (Files.exists(schemePath)) {
      val committed = Files.readString(schemePath)
      require(committed == schemeLine,
        s"stage $stage was partially committed with a different bucketing " +
          s"scheme ($committed vs $schemeLine); resume with the original " +
          "nBuckets/bucketCol or clear the stage directory")
    } else writeAtomic(schemePath, schemeLine)
    val missing = (0 until nBuckets)
      .filterNot(b => Files.exists(bucketManifestPath(stage, b)))
    val df = compute
    // 'bucket' is this method's partition-discovery column: a stage output
    // already carrying it would be dropped by readPartitioned
    require(!df.columns.contains("bucket"),
      s"stage $stage output reserves column name 'bucket' for partitioned " +
        s"checkpointing; rename it (got ${df.columns.mkString(",")})")
    val data = Paths.get(s"${stageDir(stage)}/data")
    if (missing.nonEmpty) {
      // a killed attempt leaves bucket dirs without a manifest and the
      // writer's _temporary dir: clear all but committed buckets, so the
      // append below lands beside committed data and adds to nothing stale
      val committed = (0 until nBuckets).diff(missing).map(b => data.resolve(s"bucket=$b")).toSet
      children(data).filterNot(committed).foreach(Checkpoint.deleteRecursively)
      val counts = observedWrite(
        df.withColumn("bucket", pmod(xxhash64(col(bucketCol)), lit(nBuckets)))
          .where(col("bucket").isin(missing: _*)),
        missing.map(b => count(when(col("bucket") === b, 1)).as(s"b$b")): _*) {
        _.write.mode("append").partitionBy("bucket").parquet(data.toString)
      }
      missing.zipWithIndex.foreach { case (b, i) =>
        writeAtomic(bucketManifestPath(stage, b),
          s"""{"stage":"$stage","bucket":$b,"rows":${counts.getLong(i)},"ts":"${java.time.Instant.now()}"}""")
      }
    }
    val rows = (0 until nBuckets).map(b =>
      jsonLong(Files.readString(bucketManifestPath(stage, b)), "rows")).sum
    writeManifest(stage,
      s""""rows":$rows,"buckets":$nBuckets,"resumedBuckets":${nBuckets - missing.size},""" +
        s""""schema":"${jsonEscape(df.schema.json)}"""", inputs, t0, before)
    readPartitioned(stage)
  }

  private def bucketTableName(stage: String): String =
    "graft_ckpt_" + stage.replaceAll("[^A-Za-z0-9_]", "_") + "_" +
      graft.model.Ids.contentSha(root).take(8)

  private def tableSpecPath(stage: String) = Paths.get(s"$root/$stage/_TABLE.json")

  /** Stage committed as a BUCKETED catalog table: parquet bytes live under
    * the stage dir (same layout/resume contract as [[runStage]]); bucket
    * METADATA lives in the session catalog, re-registered from the
    * committed `_TABLE.json` spec when a resume runs in a fresh JVM (the
    * in-memory catalog does not survive restarts). Downstream stages that
    * join/aggregate on `bucketCol` read the table pre-hash-partitioned and
    * pre-sorted — the shuffle is paid ONCE at write time (the parquet
    * stand-in for an Iceberg bucket-partition transform).
    */
  def runStageBucketed(stage: String, inputs: Seq[String], bucketCol: String,
                       nBuckets: Int = 16)(compute: => DataFrame): DataFrame = {
    if (isCommitted(stage)) return bucketedTable(stage)
    val t0 = System.nanoTime()
    val before = Observed.snapshot()
    val df = compute
    val table = bucketTableName(stage)
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val rows = observedWrite(df, count(lit(1))) {
      _.write.mode("overwrite")
        .bucketBy(nBuckets, bucketCol).sortBy(bucketCol)
        .option("path", s"${stageDir(stage)}/data")
        .format("parquet").saveAsTable(table)
    }.getLong(0)
    writeAtomic(tableSpecPath(stage),
      s"""{"table":"$table","bucketCol":"$bucketCol","nBuckets":$nBuckets,""" +
        s""""schemaDdl":"${jsonEscape(df.schema.toDDL)}"}""")
    writeManifest(stage, s""""rows":$rows,"bucketedBy":"$bucketCol","nBuckets":$nBuckets""",
      inputs, t0, before)
    spark.table(table)
  }

  /** Read a bucketed stage for the read pass. A small stage is collected
    * once and returned as a local relation with the table's schema, so
    * every driver mirror probes it with no job (the in-memory graph the
    * read pass of a small KG works on). Small means both: at most
    * `DriverPath.DriverIterationLimit` rows by the manifest, and files no
    * larger than `spark.sql.autoBroadcastJoinThreshold`, Spark's own bound
    * on what the driver may hold whole. Neither test runs a job. Over
    * either bound the bucketed table is returned, so a join on the bucket
    * column stays exchange-free at scale.
    */
  def readBucketed(stage: String): DataFrame = {
    val df = bucketedTable(stage)
    val rows = jsonLong(Files.readString(manifestPath(stage)), "rows")
    if (rows > DriverPath.DriverIterationLimit || df.queryExecution.optimizedPlan.stats.sizeInBytes >
        spark.sessionState.conf.autoBroadcastJoinThreshold) df
    else spark.createDataFrame(df.collect().toSeq.asJava, df.schema)
  }

  /** A bucketed stage's catalog table, re-created over the committed files
    * if this JVM has not seen it (fresh-process resume).
    */
  private def bucketedTable(stage: String): DataFrame = {
    val spec = Files.readString(tableSpecPath(stage))
    def field(k: String): String = jsonString(spec, k).getOrElse(
      throw new IllegalStateException(s"malformed _TABLE.json for $stage: $spec"))
    val table = field("table")
    val bucketCol = field("bucketCol")
    val n = jsonLong(spec, "nBuckets").toInt
    if (!spark.catalog.tableExists(table))
      spark.sql(s"CREATE TABLE $table (${field("schemaDdl")}) USING PARQUET " +
        s"CLUSTERED BY ($bucketCol) SORTED BY ($bucketCol) INTO $n BUCKETS " +
        s"LOCATION '${stageDir(stage)}/data'")
    spark.table(table)
  }

  /** Per-stage delta of the process-cumulative observed counters as a
    * JSON object string (see [[writeManifest]]).
    */
  private def observedDelta(before: Map[String, Map[String, Long]]): String =
    Observed.snapshot().flatMap { case (name, m) =>
      val prev = before.getOrElse(name, Map.empty[String, Long])
      val d = m.map { case (k, v) => k -> (v - prev.getOrElse(k, 0L)) }.filter(_._2 != 0L)
      if (d.isEmpty) None
      else Some("\"" + name + "\":" + d.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}"))
    }.mkString("{", ",", "}")

  /** Read a committed bucket-partitioned stage ([[read]]), dropping the
    * discovery column.
    */
  def readPartitioned(stage: String): DataFrame = read(stage).drop("bucket")

  def manifests(): Seq[String] =
    children(Paths.get(root)).map(_.resolve("_MANIFEST.json")).filter(Files.exists(_))
      .map(Files.readString(_))

  private def children(dir: Path): Seq[Path] =
    if (!Files.exists(dir)) Nil else Using.resource(Files.list(dir))(_.iterator().asScala.toList)
}

object Checkpoint {

  /** Write-temp-then-ATOMIC_MOVE: a reader never observes a torn file and
    * a crash mid-write leaves the previous content intact (the manifests,
    * and [[graft.graphout.GraphStorage]]'s version metadata).
    */
  def writeAtomic(path: Path, content: String): Unit = {
    Files.createDirectories(path.getParent)
    val tmp = Paths.get(path.toString + ".tmp")
    Files.writeString(tmp, content, StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    Files.move(tmp, path, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** Recursive delete, children before parents: the one copy of
    * filesystem-destructive walk logic.
    */
  def deleteRecursively(root: Path): Unit =
    if (Files.exists(root)) Using.resource(Files.walk(root)) {
      _.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.deleteIfExists(p))
    }

  /** Minimal JSON string escape/unescape for the schemas the manifests
    * carry — backslashes AND quotes, so a schema round-trips intact.
    */
  def jsonEscape(s: String): String =
    s.replace("\\", "\\\\").replace("\"", "\\\"")

  /** The string value of `key` in a flat JSON object this class wrote.
    * A scan, not a regex: an alternation under `*` recurses once per
    * character in java.util.regex and overflows the stack on a nested
    * stage schema.
    */
  private def jsonString(json: String, key: String): Option[String] = {
    val open = "\"" + key + "\":\""
    val at = json.indexOf(open)
    if (at < 0) None
    else {
      val from = at + open.length
      var i = from
      while (i < json.length && json.charAt(i) != '"') i += (if (json.charAt(i) == '\\') 2 else 1)
      Some(jsonUnescape(json.substring(from, math.min(i, json.length))))
    }
  }

  /** The integer value of `key` in a flat JSON object this class wrote. */
  private def jsonLong(json: String, key: String): Long =
    ("\"" + key + "\":(\\d+)").r.findFirstMatchIn(json).get.group(1).toLong

  def jsonUnescape(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) { sb.append(s.charAt(i + 1)); i += 2 }
      else { sb.append(c); i += 1 }
    }
    sb.toString
  }
}
