package graft.runtime

import org.apache.spark.sql.SparkSession

/** Session factory with the scale-oriented defaults the engine assumes:
  * AQE on (skew-join splitting + dynamic coalescing — the north rule calls
  * out mega-repo skew), shuffle partitions sized to cores in local mode
  * (a real cluster deployment would size them to 2-3× total cores).
  */
object Sessions {
  def local(cpus: Int = Runtime.getRuntime.availableProcessors()): SparkSession =
    configure(
      SparkSession.builder().master(s"local[$cpus]"),
      shufflePartitions = cpus
    ).getOrCreate()

  /** Per-task corpus slice the shuffle-partition contract is sized to.
    * Measured basis (2.56M-file StageProbe pairs, BASELINE.md round 6):
    * at 160k files/task the merge stage's tracked per-task execution
    * memory peaks at 671 MB and 8-thread CPU inflates 2.2x; at 80k
    * files/task it is 436 MB with compute parity restored; 40k
    * files/task (~220 MB) additionally cut the SINGLE-thread merge wall
    * ~20% (2-cpu rounds 584-586 s at 80k vs 465-477 s at 40k, each
    * config twice at 0 permille steal — per-task cache locality, not a
    * concurrency effect). Sized so state also stays far under the OHA
    * sort-fallback threshold (524k entries, Sessions.configure).
    */
  val FilesPerTask = 40000L

  /** The scale contract stated at the OHA threshold below, as code:
    * shuffle partitions grow with the corpus so per-task aggregate/join
    * state stays bounded, never below 2× the core count (so every level
    * of a scaling pair keeps full reduce-side parallelism). Bench,
    * PipelineMain and perfbench default to this; a fixed-parts run of a
    * 4× corpus is comparing different per-task regimes, not different
    * core counts.
    */
  def shufflePartitionsFor(cores: Int, files: Long): Int =
    math.max(2 * cores, ((files + FilesPerTask - 1) / FilesPerTask).toInt)

  def configure(
      b: SparkSession.Builder,
      shufflePartitions: Int
  ): SparkSession.Builder =
    b.appName("graft-kg")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      // shuffle/block scratch on tmpfs: the sandbox's /tmp is virtio-disk
      // backed, which serializes shuffle I/O and caps core scaling (on a
      // real cluster this is local NVMe / remote shuffle service)
      .config("spark.local.dir",
        sys.env.getOrElse("GRAFT_LOCAL_DIR",
          if (new java.io.File("/dev/shm").isDirectory) "/dev/shm/graft-spark-local"
          else System.getProperty("java.io.tmpdir")))
      // AQE query-stage barriers add driver-serial replan latency per
      // exchange; production keeps AQE on (skew mandate)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // keep reduce-side parallelism pinned to the core count: without
      // this AQE coalesces small-data shuffles to a handful of 64MB-target
      // partitions, serializing every aggregate/join on a 32-core box
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1m")
      .config("spark.default.parallelism", shufflePartitions.toString)
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // ObjectHashAggregate (every TypedImperativeAggregate: KeepRowBy,
      // collect_set in the mention dedup) silently degrades to
      // SORT-based aggregation once the per-task hash map passes this
      // row count — Spark's default of 128 turns OHA into a sort on any
      // real group cardinality. 512k entries × bounded single-row
      // buffers (~500B winner row / context set) caps the UNTRACKED
      // per-task object map near 256 MB — past that the sort fallback is
      // the correct safety valve (the threshold counts entries, not
      // bytes; review round 6 flagged a 2M setting as removing it). The
      // engine's own high-cardinality aggregates don't rely on OHA at
      // all (edge keep-max = narrow winner + semi join); the scale
      // contract is that shuffle partitions grow with data so
      // groups/partition stays far under this bound.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "524288")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      // zstd shuffle codec, measured not assumed (2.56M-file StageProbe
      // A/B, BASELINE.md round 6): vs Spark's lz4 default it compresses
      // the merge stage's wide-row exchange 2.1x smaller (13.2 -> 6.2 GB)
      // and cuts per-compressed-GB write() thread-time 7x (132 -> 18.5
      // s/GB at 8 threads), taking the 8-thread full-pipeline wall from
      // 458 s to 238 s with NO compute-side penalty (merge CPU excluding
      // write time was 1240-1340 s under both codecs; zstd decompression
      // on the read side is included in those runs). At 100 TB the halved
      // shuffle bytes are also network bytes. The 1m file-buffer variant
      // measured a smaller win than the codec and is not defaulted.
      // SCOPE NOTE (round-6 advice): spark.io.compression.codec is
      // Spark's GLOBAL I/O codec — it also covers spill, broadcast and
      // RDD-checkpoint compression, not shuffle alone.
      .config("spark.io.compression.codec", "zstd")
      .config("spark.shuffle.file.buffer", "32k")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
}
