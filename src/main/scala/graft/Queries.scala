package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.execution.datasources.parquet.GraftParquet

/**
 * The driver-facing query catalog: each entry exercises one operator
 * family from SURVEY.md §2 (or a training-data-pipeline op) over the
 * shared /root/testdata parquet tables, with a DuckDB-equivalent oracle in
 * `Queries.oracles` where SQL-expressible.
 *
 * Determinism rules (driver hash-compares values after sorting columns by
 * name): money values are emitted as BIGINT cents — exact, order-
 * independent under summation, and representation-proof (round-1 showed
 * the driver's DECIMAL/HUGEINT canonicalization differs from DuckDB's
 * textual form, so no DECIMAL column may reach an output schema; integer
 * sums are CAST(... AS BIGINT) in the oracle because DuckDB widens them
 * to HUGEINT). Floating scores are round()ed; every query's output is
 * fully ordered or orderless (a bag of rows).
 */
object Queries {

  /** A catalog table, read with the schema of its parquet footer: no
    * schema-inference job.
    */
  private def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    GraftParquet.footerSchema(spark, path)
      .fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))
  }

  /** Money column (double, 2dp) → exact integer cents. round() semantics
    * match DuckDB's for values that are already within 1e-9 of an integer
    * after *100, which 2dp money always is.
    */
  private def cents(c: Column): Column = round(c * 100).cast("bigint")

  type Q = (SparkSession, String) => DataFrame

  // ---------------------------------------------------------------- scans/aggs

  /** E3/G4-style hash aggregate with partial (map-side) combine. */
  val q01_agg: Q = (s, d) =>
    t(s, d, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(cents(col("l_quantity"))).as("sum_qty_cents"),
        sum(cents(col("l_extendedprice"))).as("sum_price_cents"),
        count(lit(1)).as("cnt"))

  /** Filter + projection, pushed to the parquet scan (predicate pushdown). */
  val q02_filter_project: Q = (s, d) =>
    t(s, d, "lineitem")
      .where(col("l_shipdate") < lit("1996-01-01").cast("timestamp") &&
        col("l_discount") >= 0.05)
      .select(col("l_orderkey"), col("l_partkey"), cents(col("l_extendedprice")).as("price_cents"))

  // ---------------------------------------------------------------- joins

  /** R2-style broadcast equi-join (small dim side broadcast). */
  val q03_broadcast_join: Q = (s, d) =>
    t(s, d, "customer")
      .join(broadcast(t(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name").agg(count(lit(1)).as("n_customers"),
        sum(cents(col("c_acctbal"))).as("total_bal_cents"))

  /** V2 dangling-reference analog: anti join (customers with no
    * high-value order).
    */
  val q04_anti_join: Q = (s, d) =>
    t(s, d, "customer")
      .join(t(s, d, "orders").where(col("o_totalprice") > 150000),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")

  /** Q6 induced-subgraph analog: semi join. */
  val q05_semi_join: Q = (s, d) =>
    t(s, d, "part")
      .join(t(s, d, "lineitem"), col("p_partkey") === col("l_partkey"), "left_semi")
      .select("p_partkey", "p_name")

  /** V3/X4 contradiction analog: co-occurrence pairs within a grouping key.
    *
    * Round-7 shape (guide §2.4 — remove shuffles outright): the
    * {distinct + self-join + pair-count} form scanned lineitem TWICE
    * (Catalyst does not share the distinct subplan across the join's two
    * sides) and ran 3 wide exchanges plus a broadcast build. Per-group
    * pair generation is equivalent: collect_set(l_suppkey) per order IS
    * the distinct supplier set (TPC-H bounds it at 7/order, so the
    * per-group state is tiny), and exploding the sorted set's (i < j)
    * combinations yields exactly the supp_a < supp_b pairs the self-join
    * produced — one lineitem scan, 2 exchanges (order groupBy + pair
    * groupBy), no join. Identical rows; equivalence proven against the
    * unchanged DuckDB oracle (self-join form) at sf0.001/0.01/0.1.
    */
  val q06_self_join_pairs: Q = (s, d) => {
    val ss = sort_array(collect_set(col("l_suppkey")))
    // repartition-after-read (guide §2.5 input skew): the sf inputs are
    // single unsplittable parquet files, so the scan — and with it the
    // whole partial collect_set — would otherwise run in ONE task. The
    // explicit hash repartition on the grouping key is the exchange the
    // groupBy needs anyway (same key, same partition count → no second
    // exchange), it just moves it below the heavy per-group work.
    val sets = t(s, d, "lineitem")
      .select("l_orderkey", "l_suppkey")
      // the self-join this replaced never matched a null order key
      .where(col("l_orderkey").isNotNull)
      // explicit partition count (sized from the session conf, not a
      // literal): a bare repartition(col) is AQE-coalescible right back
      // to the single-task regime the repartition exists to break
      .repartition(s.sessionState.conf.numShufflePartitions, col("l_orderkey"))
      .groupBy("l_orderkey").agg(ss.as("ss"))
    // pair generation as two Generate (explode) operators, not nested
    // transform() lambdas: higher-order functions are CodegenFallback and
    // re-evaluate interpreted per element (measured 6x the task CPU of
    // this form for identical output)
    sets
      .select(posexplode(col("ss")).as(Seq("i", "supp_a")), col("ss"))
      .select(col("supp_a"),
        explode(slice(col("ss"), col("i") + lit(2), size(col("ss")))).as("supp_b"))
      .groupBy("supp_a", "supp_b")
      .agg(count(lit(1)).as("n_shared_orders"))
  }

  // ---------------------------------------------------------------- window/topk

  /** X8 keep-max dedup: window ranking, keep best row per group. */
  val q07_keepmax_window: Q = (s, d) => {
    val w = Window.partitionBy("o_custkey")
      .orderBy(desc("o_totalprice"), asc("o_orderkey"))
    t(s, d, "orders")
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("o_custkey"), col("o_orderkey"), cents(col("o_totalprice")).as("best_price_cents"))
  }

  /** Q9 top-k by degree: explode endpoints → count → TakeOrderedAndProject. */
  val q08_degree_topk: Q = (s, d) => {
    val cust = t(s, d, "customer").select(col("c_nationkey").cast("int").as("nk"))
    val supp = t(s, d, "supplier").select(col("s_nationkey").cast("int").as("nk"))
    cust.union(supp).groupBy("nk").agg(count(lit(1)).as("degree"))
      .orderBy(desc("degree"), asc("nk")).limit(10)
  }

  /** Q3 fixed-depth traversal: 2-hop join chain customer→nation→region. */
  val q09_traverse_2hop: Q = (s, d) =>
    t(s, d, "customer")
      .join(t(s, d, "nation"), col("c_nationkey") === col("n_nationkey"))
      .join(t(s, d, "region"), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name").agg(count(lit(1)).as("n_customers"))

  // ---------------------------------------------------------------- text ops

  /** T9 token counting (whitespace tokenization). */
  val q10_token_count: Q = (s, d) =>
    t(s, d, "documents")
      .select(col("doc_id"),
        size(split(col("text"), " ")).as("n_tokens"),
        length(col("text")).as("n_chars_computed"))

  /** E3 corpus-level term aggregation: explode(split) → groupBy → count. */
  val q11_term_freq: Q = (s, d) =>
    t(s, d, "documents")
      .select(explode(split(col("text"), " ")).as("term"))
      .where(length(col("term")) > 0)
      .groupBy("term").agg(count(lit(1)).as("freq"))

  /** Exact dedup: hash-groupBy on md5(text) (training-data dedup op #1). */
  val q12_exact_dedup: Q = (s, d) =>
    t(s, d, "documents")
      .groupBy(md5(col("text")).as("text_hash"))
      .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keeper_doc_id"))

  /** Text quality scoring: length/word/stopword ratios (training-data op). */
  val q13_quality_score: Q = (s, d) => {
    val stop = Array("the", "a", "of", "and", "to", "in")
    t(s, d, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("toks"), col("n_chars"))
      .select(
        col("doc_id"),
        size(col("toks")).as("n_tokens"),
        size(filter(col("toks"), c => c.isin(stop.map(x => lit(x): Any): _*))).as("n_stopwords"),
        col("n_chars"))
  }

  /** Q5 regex text search over documents. */
  val q14_regex_search: Q = (s, d) =>
    t(s, d, "documents")
      .where(col("text").rlike("spark.*join|join.*spark"))
      .select("doc_id", "lang")

  /** S5 language gate: supported-language filter + counts. */
  val q15_lang_gate: Q = (s, d) =>
    t(s, d, "documents")
      .where(col("lang").isin("en", "es", "de"))
      .groupBy("lang").agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"))

  // ---------------------------------------------------------------- embeddings

  /** Brute-force cosine top-k ANN baseline (training-data op). Query
    * vector = vec_id 0; returns 10 nearest others. zip_with+aggregate
    * keeps the dot product inside codegen'd higher-order functions.
    */
  val q16_ann_brute: Q = (s, d) => {
    val emb = t(s, d, "embeddings")
    val qv = emb.where(col("vec_id") === 0)
      .select(col("embedding").as("q"))
    val joined = emb.where(col("vec_id") =!= 0).crossJoin(broadcast(qv))
    def dot(a: Column, b: Column): Column =
      graft.ops.Ann.dot(a.cast("array<double>"), b.cast("array<double>"))
    joined
      .select(col("vec_id"), col("label"),
        round(dot(col("embedding").cast("array<double>"), col("q")) /
          (sqrt(dot(col("embedding").cast("array<double>"), col("embedding").cast("array<double>"))) *
           sqrt(dot(col("q").cast("array<double>"), col("q").cast("array<double>")))), 4).as("cos_sim"))
      .orderBy(desc("cos_sim"), asc("vec_id")).limit(10)
  }

  /** Events sessionization-lite: per-user event counts + value sums by type
    * (window/agg over the events table).
    */
  val q17_events_agg: Q = (s, d) =>
    t(s, d, "events")
      .groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("n_events"), sum(cents(col("value"))).as("total_value_cents"))

  /** Set op: except — nations with no well-capitalized supplier. */
  val q18_set_ops: Q = (s, d) => {
    val nk = t(s, d, "nation").select(col("n_nationkey").cast("int").as("nk"))
    val sn = t(s, d, "supplier").where(col("s_acctbal") > 7000)
      .select(col("s_nationkey").cast("int").as("nk")).distinct()
    nk.except(sn)
  }

  // ------------------------------------------------------- graph operators

  /** Deterministic graph derived from the TPC-H tables: customers part-of
    * nations part-of regions — lets the iterative graph operators be
    * oracle-checked with plain SQL joins.
    */
  /** The nation branch of [[tpchGraph]]'s node set, shared so the
    * planted-graph entries (q44/q46/q47/q48) can build their nation-only
    * node sets DIRECTLY instead of filtering the three-table union —
    * the filtered union still scans (and plans) all three branches per
    * action, and these entries run several driver-blocking probe actions
    * each (round-7; row set provably identical: the filters selected
    * exactly this branch).
    */
  private def nationNodeDf(s: SparkSession, d: String): DataFrame =
    t(s, d, "nation").select(
      concat(lit("nation_"), col("n_nationkey")).as("id"),
      col("n_name").as("name"), lit("place").as("entityType"),
      lit(null).cast("string").as("context"),
      map().cast("map<string,string>").as("attributes"),
      lit(1.0).as("confidence"), lit("").as("segId"), lit("").as("repo"),
      lit("").as("path"), lit("").as("contentSha"))

  private def tpchGraph(s: SparkSession, d: String): graft.graphout.GraphBuilder.Graph = {
    import s.implicits._
    val cust = t(s, d, "customer").select(
      concat(lit("cust_"), col("c_custkey")).as("id"),
      col("c_name").as("name"), lit("person").as("entityType"),
      lit(null).cast("string").as("context"),
      map().cast("map<string,string>").as("attributes"),
      lit(1.0).as("confidence"), lit("").as("segId"), lit("").as("repo"),
      lit("").as("path"), lit("").as("contentSha"))
    val nat = nationNodeDf(s, d)
    val reg = t(s, d, "region").select(
      concat(lit("region_"), col("r_regionkey")).as("id"),
      col("r_name").as("name"), lit("place").as("entityType"),
      lit(null).cast("string").as("context"),
      map().cast("map<string,string>").as("attributes"),
      lit(1.0).as("confidence"), lit("").as("segId"), lit("").as("repo"),
      lit("").as("path"), lit("").as("contentSha"))
    def edge(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      df.withColumn("srcName", lit("")).withColumn("dstName", lit(""))
        .withColumn("context", lit(null).cast("string"))
        .withColumn("bidirectional", lit(false))
        .withColumn("strength", lit(1.0))
        .withColumn("attributes", map().cast("map<string,string>"))
    val cn = edge(t(s, d, "customer").select(
      concat(lit("cn_"), col("c_custkey")).as("id"),
      concat(lit("cust_"), col("c_custkey")).as("srcId"),
      concat(lit("nation_"), col("c_nationkey")).as("dstId"),
      lit("part-of").as("relType"), lit(0.9).as("confidence"), lit("").as("segId")))
    val nr = edge(t(s, d, "nation").select(
      concat(lit("nr_"), col("n_nationkey")).as("id"),
      concat(lit("nation_"), col("n_nationkey")).as("srcId"),
      concat(lit("region_"), col("n_regionkey")).as("dstId"),
      lit("part-of").as("relType"), lit(0.8).as("confidence"), lit("").as("segId")))
    graft.graphout.GraphBuilder.Graph(
      cust.unionByName(nat).unionByName(reg).as[graft.model.Entity],
      cn.unionByName(nr).as[graft.model.Triple])
  }

  /** Q3 traverse (iterative frontier-join BFS), incoming, depth 2. */
  val q19_traverse_incoming: Q = (s, d) =>
    graft.query.GraphQueryOps.traverse(tpchGraph(s, d), "region_0",
      maxDepth = 2, direction = "incoming")
      .select(col("parentId").as("parent_id"), col("relId").as("rel_id"),
        col("relType").as("rel_type"), col("direction"),
        col("childId").as("child_id"), col("depth"))

  /** Q4 find_path BFS with cycle avoidance; path projected as a string. */
  val q20_find_path: Q = (s, d) => {
    val g = tpchGraph(s, d)
    // destination: the region of customer 1 (tiny driver lookup)
    val dst = t(s, d, "customer").where(col("c_custkey") === 1)
      .join(t(s, d, "nation"), col("c_nationkey") === col("n_nationkey"))
      .select(concat(lit("region_"), col("n_regionkey"))).head().getString(0)
    graft.query.GraphQueryOps.findPath(g, "cust_1", dst)
      .select(concat_ws("/", col("path")).as("path_str"), col("depth"))
  }

  /** X11 transitive inference: 2-hop part-of chains ⇒ inferred edge with
    * conf = c1*c2*0.9, existing edges anti-joined away.
    */
  val q21_infer_transitive: Q = (s, d) =>
    graft.reason.Reasoning.inferTransitive(tpchGraph(s, d), minConfidence = 0.5)
      .select(col("srcId").as("src_id"), col("dstId").as("dst_id"),
        col("relType").as("rel_type"), round(col("confidence"), 6).as("confidence"))

  /** X13 inverse inference: nation contains customer ⇒ customer part-of
    * nation at conf×0.95.
    */
  val q22_infer_inverse: Q = (s, d) => {
    import s.implicits._
    val nodes = tpchGraph(s, d).nodes
    val contains = t(s, d, "customer").select(
      concat(lit("nc_"), col("c_custkey")).as("id"),
      concat(lit("nation_"), col("c_nationkey")).as("srcId"),
      concat(lit("cust_"), col("c_custkey")).as("dstId"),
      lit("").as("srcName"), lit("").as("dstName"),
      lit("contains").as("relType"), lit(null).cast("string").as("context"),
      lit(false).as("bidirectional"), lit(1.0).as("strength"),
      lit(0.9).as("confidence"), lit("").as("segId"),
      map().cast("map<string,string>").as("attributes")).as[graft.model.Triple]
    graft.reason.Reasoning.inferInverse(
      graft.graphout.GraphBuilder.Graph(nodes, contains))
      .select(col("srcId").as("src_id"), col("dstId").as("dst_id"),
        col("relType").as("rel_type"), round(col("confidence"), 6).as("confidence"))
  }

  /** V1 cycle check over a planted cyclic subgraph (rows-only would hide
    * regressions — oracle derivable because the cycle is planted in SQL).
    */
  val q23_cycle_check: Q = (s, d) => {
    import s.implicits._
    // plant: region_0 is-a region_1 is-a region_2 is-a region_0 + chain out
    val nodes = tpchGraph(s, d).nodes
    val cyc = Seq(
      ("cy1", "region_0", "region_1"), ("cy2", "region_1", "region_2"),
      ("cy3", "region_2", "region_0"), ("cy4", "region_2", "region_3"))
      .toDF("id", "srcId", "dstId")
      .withColumn("srcName", lit("")).withColumn("dstName", lit(""))
      .withColumn("relType", lit("is-a"))
      .withColumn("context", lit(null).cast("string"))
      .withColumn("bidirectional", lit(false))
      .withColumn("strength", lit(1.0)).withColumn("confidence", lit(1.0))
      .withColumn("segId", lit(""))
      .withColumn("attributes", map().cast("map<string,string>"))
      .as[graft.model.Triple]
    graft.graphout.Verifier.cyclicDependencies(
      graft.graphout.GraphBuilder.Graph(nodes, cyc))
      .select(col("involvedElements").getItem(0).as("node_id"), col("severity"))
  }

  // ---------------------------------------------- training-data pipeline ops

  /** MinHash+LSH near-dup candidates verified with exact n-gram Jaccard
    * (no SQL oracle: xxhash64 banding isn't expressible in DuckDB), with
    * an IN-RUN recall invariant against the LSH-free exact sibling on a
    * fixed doc slice (kg_tripleset's self-verify pattern, round-3 advice
    * item 8): a silent recall collapse in the banding throws here instead
    * of shipping an empty-but-plausible result.
    */
  /** In-run recall gate for the capped approximate operators (round-4
    * advice item 5): the measured recall LOSS is recorded in the Observed
    * registry every run (no-silent-caps — a non-zero loss WARN-logs and
    * lands in checkpoint manifests), and the hard floor only throws when
    * the operator's own bucket-cap counters dropped nothing during this
    * run. On a corpus where legitimate cap drops explain the miss, the
    * gate degrades to a loud warning instead of failing the harness —
    * the cap counters, not a fixed threshold, decide whether low recall
    * is a collapse or the documented cap trade.
    */
  private def recallGate(s: SparkSession, gate: String, capPrefixes: Seq[String],
                         before: Map[String, Map[String, Long]],
                         hit: Long, total: Long, floor: Double,
                         detail: String): Unit = {
    val recall = if (total == 0) 1.0 else hit.toDouble / total
    // recordLast: a GAUGE ("this run's loss"), not an additive drop
    // counter — Observed.record mints #n entries the prefix-sum reads
    // aggregate, so running the same query twice in one JVM (bench
    // dirty-window retry, test suites) would report a cumulative loss
    // that can exceed 1000‰ (round-5 advice)
    graft.runtime.Observed.recordLast(gate + "_recall_loss",
      Map("lossPermille" -> math.round((1.0 - recall) * 1000)))
    if (recall < 1.0)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        f"$gate recall $recall%.3f (loss ${math.round((1.0 - recall) * 1000)}‰)")
    if (recall >= floor) return
    // observe metrics are harvested by an ASYNC QueryExecutionListener —
    // without a drain, the cap drops of the very query under test can
    // still be in flight on the listener bus and read as zero, turning a
    // legitimately-capped run into a hard "collapse" failure. The session
    // is passed EXPLICITLY (getActiveSession is a thread-local that can be
    // unset on pool threads — a silent no-op drain re-opens the race);
    // a timed-out drain is loud so a later hard failure is attributable
    if (capPrefixes.nonEmpty &&
        !org.apache.spark.graftshim.GraftCore.drainListenerBus(s.sparkContext, 5000))
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"$gate: listener bus did not drain in 5 s - cap counters may be stale")
    def drops(snap: Map[String, Map[String, Long]]): Long =
      capPrefixes.map(p => snap.get(p).map(_.values.sum).getOrElse(0L)).sum
    val dropped = drops(graft.runtime.Observed.snapshot()) - drops(before)
    if (dropped > 0)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        f"$gate recall $recall%.3f under floor $floor but $dropped rows were " +
          s"legitimately cap-dropped this run - degraded to warning: $detail")
    else throw new IllegalStateException(s"$gate recall collapsed: $detail")
  }

  /** Resolve a committed fixture by walking UP from the JVM's cwd to the
    * repo root (any checkout location, any launch directory under it) —
    * neither a hardcoded absolute path (breaks non-standard checkouts)
    * nor a bare cwd-relative one (breaks jars launched from elsewhere in
    * the tree) covers both. Falls back to cwd-relative if never found,
    * so the DuckDB error names the path it actually tried.
    */
  private def fixturePath(rel: String): String = {
    var dir: java.io.File = new java.io.File(".").getAbsoluteFile
    while (dir != null) {
      val c = new java.io.File(dir, rel)
      if (c.exists()) return c.getAbsolutePath
      dir = dir.getParentFile
    }
    new java.io.File(rel).getAbsolutePath
  }

  /** Baseline cap-counter snapshot for a recall gate: drain the listener
    * bus first so a PRIOR query's still-in-flight cap event cannot land
    * between the snapshot and the gate and masquerade as this run's drop.
    */
  private def capBaseline(s: SparkSession): Map[String, Map[String, Long]] = {
    org.apache.spark.graftshim.GraftCore.drainListenerBus(s.sparkContext, 5000)
    graft.runtime.Observed.snapshot()
  }

  val q24_minhash_dedup: Q = (s, d) => minhashDedup(s, t(s, d, "documents"))

  /** q24 over `docs`: MinHash-LSH candidates with estimate ≥ `estFloor`,
    * verified by exact n-gram Jaccard ≥ 0.8, with an in-run recall gate.
    * Under `driverLimit` documents both operators take their driver paths
    * (one probe job each, local results); past it, their distributed forms.
    */
  def minhashDedup(s: SparkSession, docs: DataFrame, estFloor: Double = 0.5,
                   driverLimit: Long = graft.runtime.DriverPath.DriverIterationLimit)
      : DataFrame = {
    val capSnap = capBaseline(s)
    // estimate-filter candidates before the exact verification join —
    // the LSH bands over-generate on low-vocabulary corpora.
    // (Round-7 negative results for the distributed form, measured and
    // reverted: localCheckpointing this candidate set — and
    // member-prefiltering the verify stage's shingle explode — each cut
    // task CPU ~3x but ADDED enough stage latency that q24 wall regressed
    // 2.15 s → 3.1 s at sf0.1; at this corpus size the duplicate-subtree
    // recompute is cheaper than the extra stages. OPTIMIZATION_r07.md
    // records the A/B.)
    val pairs = graft.ops.Dedup.minhashLshPairs(docs, driverLimit = driverLimit)
      .where(col("jaccard_est") >= estFloor)
    val verified = graft.ops.Dedup.ngramJaccard(docs, pairs.select("idA", "idB"),
      driverLimit = driverLimit).where(col("jaccard") >= 0.8)
    // a distributed result is persisted for the gate's pass AND the
    // driver's final consumption; scope is session-lifetime by design
    // (q24/q27/q28 — result-sized tables, the stand-in for the checkpoint
    // table a production run would write; unpersisting before return would
    // recompute the whole LSH pipeline for the driver's read). A driver
    // path's local result is already held by the driver.
    val out =
      if (graft.runtime.DriverPath.isLocal(verified)) verified
      else verified.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // exact sibling over ALL pairs of a bounded slice (the q45 kernel —
    // LSH-free): every exact-J≥0.8 slice pair the LSH path misses is a
    // recall loss; ≥0.7 tolerates est-filter edge pairs
    val slice = docs.where(col("doc_id") < 200 &&
      size(split(col("text"), "\\s+")) >= 3)
    val ids = slice.select(col("doc_id"))
    val allPairs = ids.select(col("doc_id").as("idA"))
      .crossJoin(ids.select(col("doc_id").as("idB")))
      .where(col("idA") < col("idB"))
    val exactHigh = graft.ops.Dedup.ngramJaccard(slice, allPairs, driverLimit = driverLimit)
      .where(col("jaccard") >= 0.8)
    // the gate's two counts: exact pairs, and those of them the LSH path
    // found (out's pairs are distinct, so the left join keeps one row per
    // exact pair). When both sides are local they are counted from their
    // rows, a null id matching nothing as in the join; otherwise in ONE
    // action, which on the distributed path also fills out's cache
    def localPairs(df: DataFrame): Option[Array[(Any, Any)]] =
      if (!graft.runtime.DriverPath.isLocal(df)) None
      else graft.runtime.DriverPath.probe(df.select("idA", "idB"), driverLimit)
        .map(_.map(r => (r.get(0), r.get(1))))
    val (e, hit) = (for (exact <- localPairs(exactHigh); lsh <- localPairs(out)) yield {
      val found = lsh.filter(p => p._1 != null && p._2 != null).toSet
      (exact.length.toLong, exact.count(found).toLong)
    }).getOrElse {
      val gate = exactHigh.select("idA", "idB")
        .join(out.select(col("idA"), col("idB"), lit(true).as("hit")), Seq("idA", "idB"), "left")
        .agg(count(lit(1)), count(col("hit"))).head()
      (gate.getLong(0), gate.getLong(1))
    }
    if (e > 0)
      recallGate(s, "q24_minhash", Seq("minhash_band_cap"), capSnap, hit, e, 0.7,
        s"$hit of $e exact-J>=0.8 pairs on doc_id<200")
    out
  }

  /** SimHash near-dup candidates (rows-only), with an IN-RUN recall
    * invariant: 4×16-bit pigeonhole banding is EXACT for Hamming ≤ 3
    * (any such pair shares a full band), so every brute-force Hamming
    * pair on a bounded slice must appear in the output — recall 1.0
    * absent bucket caps, gated at ≥ 0.95 to tolerate capped boilerplate
    * buckets (whose drops the observe counter reports).
    */
  val q25_simhash_dedup: Q = (s, d) => {
    val capSnap = capBaseline(s)
    val docs = t(s, d, "documents")
    val out = graft.ops.Dedup.simhashPairs(docs, maxHamming = 3)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sh = docs.where(col("doc_id") < 300)
      .select(col("doc_id").as("id"), graft.functions.SimHash64(col("text")).as("sh"))
    val a = sh.select(col("id").as("idA"), col("sh").as("shA"))
    val b = sh.select(col("id").as("idB"), col("sh").as("shB"))
    val exact = a.crossJoin(b).where(col("idA") < col("idB") &&
      bit_count(col("shA").bitwiseXOR(col("shB"))) <= 3)
    val e = exact.count()
    if (e >= 3) {
      val hit = out.join(exact.select("idA", "idB"), Seq("idA", "idB"), "left_semi")
        .count()
      recallGate(s, "q25_simhash", Seq("simhash_band_cap"), capSnap, hit, e, 0.95,
        s"$hit of $e Hamming<=3 pairs on doc_id<300")
    }
    out
  }

  /** Brute-force pairwise embedding cosine ≥ τ (oracle via
    * list_dot_product — same pattern as q16).
    */
  val q26_embed_pairs: Q = (s, d) => {
    val e = t(s, d, "embeddings").where(col("vec_id") < 500)
    val a = e.select(col("vec_id").as("ida"), col("embedding").cast("array<double>").as("va"))
    val b = e.select(col("vec_id").as("idb"), col("embedding").cast("array<double>").as("vb"))
    a.crossJoin(b).where(col("ida") < col("idb"))
      .select(col("ida"), col("idb"),
        round(graft.ops.Ann.cosine(col("va"), col("vb")), 4).as("cos_sim"))
      .where(col("cos_sim") >= 0.5)
  }

  /** Embedding near-dup via hyperplane-LSH blocking (rows-only: recall<1
    * by design vs the brute-force oracle above), with an IN-RUN recall
    * invariant: very-high-similarity pairs (cos ≥ 0.9, where the 8×8-bit
    * banding has ≥0.93 hit probability and the deterministic planes make
    * the outcome reproducible) found by brute force on a bounded slice
    * must be found by the LSH path too.
    */
  val q27_embed_neardup_lsh: Q = (s, d) => {
    val capSnap = capBaseline(s)
    val emb = t(s, d, "embeddings")
    val out = graft.ops.Dedup.embeddingNearDup(emb, threshold = 0.4)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val e = emb.where(col("vec_id") < 500)
    val a = e.select(col("vec_id").as("idA"), col("embedding").cast("array<double>").as("va"))
    val b = e.select(col("vec_id").as("idB"), col("embedding").cast("array<double>").as("vb"))
    val exactHigh = a.crossJoin(b).where(col("idA") < col("idB"))
      .select(col("idA"), col("idB"),
        graft.ops.Ann.cosine(col("va"), col("vb")).as("cos"))
      .where(col("cos") >= 0.9)
    val ecnt = exactHigh.count()
    // gate only with a statistically meaningful slice: at 1-2 pairs a
    // single deterministic-but-unlucky banding miss (per-pair hit prob
    // ≈0.93) would fail a healthy LSH path; a real collapse shows as
    // near-zero recall over MANY pairs
    if (ecnt >= 3) {
      val hit = out.join(exactHigh.select("idA", "idB"), Seq("idA", "idB"), "left_semi")
        .count()
      recallGate(s, "q27_embed_lsh", Seq("embed_band_cap"), capSnap, hit, ecnt, 0.6,
        s"$hit of $ecnt cos>=0.9 pairs on vec_id<500")
    }
    out
  }

  /** IVF approximate top-k ANN (rows-only: approximate by construction),
    * with an IN-RUN recall@10 invariant against the exact brute-force
    * sibling for the same 4 queries.
    */
  val q28_ann_ivf: Q = (s, d) => {
    val emb = t(s, d, "embeddings")
    val queries = emb.where(col("vec_id") < 4)
      .select(col("vec_id").as("q_id"), col("embedding"))
    val out = graft.ops.Ann.ivfTopK(emb, queries, c = 16, nProbe = 4, k = 10)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val exact = graft.ops.Ann.bruteForceTopK(emb, queries, k = 10)
    val total = exact.count()
    val hit = out.select("qid", "id")
      .join(exact.select("qid", "id"), Seq("qid", "id"), "left_semi").count()
    // natural recall for nProbe=4 of 16 cells measures ≈0.30–0.48 on the
    // synthetic corpora (the scale/recall trade is the operator's point);
    // the invariant is a COLLAPSE detector — a broken cell assignment or
    // probe selection lands near zero, never near the natural band
    require(total > 0, "IVF exact-sibling oracle returned zero rows")
    // NO excuse counters: a dropped degenerate (zero-norm) centroid can
    // never win the cosine argmax (Ann.scala's own invariant), so it
    // cannot explain recall loss — recall under the floor is always a
    // hard collapse here, never downgradeable to a warning
    recallGate(s, "q28_ivf", Seq.empty, Map.empty, hit, total,
      0.25, s"$hit of $total (nProbe=4 of c=16 cells)")
    out
  }

  /** Language-ID heuristic (rows-only; deterministic lexicon argmax). */
  val q29_langid: Q = (s, d) =>
    graft.ops.TextAnalysis.languageId(t(s, d, "documents"))

  /** Document fingerprints. FULL fixture oracle since round 5: the
    * rolling hash is not DuckDB-expressible, so the expected output is a
    * committed parquet fixture computed by an INDEPENDENT public-spec
    * XXH64 implementation ([[graft.tools.RefXxh64]]) — FixtureGen asserts
    * exact equality with the kernel before writing. The in-run
    * kernel-parity invariant below stays as the bench-path collapse
    * detector (the bench times entries without running oracles).
    */
  val q30_fingerprint: Q = (s, d) => {
    val docs = t(s, d, "documents")
    // null-safe inequality: a kernel regression that returns NULL (not a
    // wrong long) must count as divergence, and =!= is null-swallowing
    val bad = docs.where(col("doc_id") < 100)
      .select(graft.ops.TextAnalysis.fingerprint(col("text")).as("native"),
        graft.ops.TextAnalysis.fingerprintSpec(col("text")).as("spec"))
      .where(!(col("native") <=> col("spec"))).count()
    require(bad == 0, s"TokenChainHash diverged from its spec on $bad of 100 sample docs")
    graft.ops.TextAnalysis.fingerprints(docs)
  }

  /** Multimodal feature-extraction plumbing over a deterministic synthetic
    * media corpus — all three codecs REAL over pure JDK: image via
    * ImageIO, audio via javax.sound, video via the MJPEG-AVI chunk walk.
    * FULL fixture oracle since round 5: the expected features are a
    * committed parquet fixture computed by a serial no-Spark driver loop
    * (FixtureGen asserts exact equality with the distributed output
    * before writing), so the hash compare covers the distributed plumbing
    * end-to-end. The in-run zero-decode-error invariant stays as the
    * bench-path collapse detector.
    */
  val q31_multimodal: Q = (s, _) => {
    // persisted like its q24/q25/q27/q28 siblings: the invariant count
    // and the driver's consumption would otherwise each run the full
    // 2000-image ImageIO decode pass
    val out = graft.ops.Multimodal.extractFeatures(
      graft.ops.Multimodal.syntheticMedia(s, 2000)).toDF()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bad = out.where(col("decodeError").isNotNull ||
      col("meanLuma") < 0 || col("meanLuma") > 1).count()
    require(bad == 0, s"$bad of 2000 synthetic media rows failed decode or range checks")
    out
  }

  /** Sessionization: per-user session ids via 30-min gaps — lag window +
    * running sum (streaming-shaped logic in batch form).
    */
  val q32_sessions: Q = (s, d) => {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val gapMin = 30 * 60
    t(s, d, "events")
      .withColumn("ts", col("ts").cast("timestamp"))
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) > gapMin * 1000000L, 1)
          .otherwise(0))
      .withColumn("session_seq", sum(col("new_session")).over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("user_id", "session_seq")
      .agg(count(lit(1)).as("n_events"), sum(cents(col("value"))).as("session_value_cents"))
  }

  // ------------------------------------------- verification / query / reason
  // (round-2 additions: every operator family gets a DuckDB-oracled entry
  // over a SQL-derivable planted graph — q23_cycle_check's template)

  import graft.model.{Entity, Triple}
  import graft.graphout.GraphBuilder.Graph

  private def plainEdge(df: DataFrame): DataFrame =
    df.withColumn("srcName", lit("")).withColumn("dstName", lit(""))
      .withColumn("context", lit(null).cast("string"))
      .withColumn("bidirectional", lit(false))
      .withColumn("strength", lit(1.0))
      .withColumn("attributes", map().cast("map<string,string>"))

  /** V2 dangling references: graph with customer nodes only, edges point
    * at absent nation nodes — every edge is flagged critical.
    */
  val q33_dangling_refs: Q = (s, d) => {
    import s.implicits._
    val g = tpchGraph(s, d)
    val custOnly = g.nodes.where(col("entityType") === "person")
    val cn = g.edges.where(col("relType") === "part-of" && col("id").startsWith("cn_"))
    graft.graphout.Verifier.danglingReferences(Graph(custOnly, cn))
      .select(col("involvedElements").getItem(0).as("rel_id"),
        col("involvedElements").getItem(1).as("missing_id"),
        col("severity"))
  }

  /** V3 contradictory relationships: planted separate-from edges opposing
    * the part-of edges of region-0 nations.
    */
  val q34_contradictions: Q = (s, d) => {
    import s.implicits._
    val g = tpchGraph(s, d)
    val sep = plainEdge(t(s, d, "nation").where(col("n_regionkey") === 0).select(
      concat(lit("sep_"), col("n_nationkey")).as("id"),
      concat(lit("nation_"), col("n_nationkey")).as("srcId"),
      concat(lit("region_"), col("n_regionkey")).as("dstId"),
      lit("separate-from").as("relType"), lit(0.6).as("confidence"),
      lit("").as("segId"))).as[Triple]
    graft.graphout.Verifier.contradictoryRelationships(
      Graph(g.nodes, g.edges.unionByName(sep).as[Triple]))
      .select(col("involvedElements").getItem(0).as("id_a"),
        col("involvedElements").getItem(1).as("id_b"),
        col("severity"))
  }

  /** V4 transitive contradiction: is-a chain cust→nation→region plus a
    * direct is-not-a cust→region for custkey ≤ 50.
    */
  val q35_transitive_contra: Q = (s, d) => {
    import s.implicits._
    val nodes = tpchGraph(s, d).nodes
    val isa1 = t(s, d, "customer").select(
      concat(lit("ia1_"), col("c_custkey")).as("id"),
      concat(lit("cust_"), col("c_custkey")).as("srcId"),
      concat(lit("nation_"), col("c_nationkey")).as("dstId"),
      lit("is-a").as("relType"), lit(1.0).as("confidence"), lit("").as("segId"))
    val isa2 = t(s, d, "nation").select(
      concat(lit("ia2_"), col("n_nationkey")).as("id"),
      concat(lit("nation_"), col("n_nationkey")).as("srcId"),
      concat(lit("region_"), col("n_regionkey")).as("dstId"),
      lit("is-a").as("relType"), lit(1.0).as("confidence"), lit("").as("segId"))
    val neg = t(s, d, "customer").where(col("c_custkey") <= 50)
      .join(t(s, d, "nation"), col("c_nationkey") === col("n_nationkey"))
      .select(
        concat(lit("neg_"), col("c_custkey")).as("id"),
        concat(lit("cust_"), col("c_custkey")).as("srcId"),
        concat(lit("region_"), col("n_regionkey")).as("dstId"),
        lit("is-not-a").as("relType"), lit(1.0).as("confidence"), lit("").as("segId"))
    val edges = plainEdge(isa1.unionByName(isa2).unionByName(neg)).as[Triple]
    graft.graphout.Verifier.semanticContradictions(Graph(nodes, edges))
      .select(col("involvedElements").getItem(0).as("src_id"),
        col("involvedElements").getItem(1).as("dst_id"))
      .distinct()
  }

  /** Q5 relationship text search: regex over edge context. */
  val q36_search_relationships: Q = (s, d) => {
    import s.implicits._
    val g = tpchGraph(s, d)
    val cn = t(s, d, "customer")
      .join(t(s, d, "nation"), col("c_nationkey") === col("n_nationkey"))
      .select(
        concat(lit("cn_"), col("c_custkey")).as("id"),
        concat(lit("cust_"), col("c_custkey")).as("srcId"),
        concat(lit("nation_"), col("c_nationkey")).as("dstId"),
        lit("").as("srcName"), lit("").as("dstName"),
        lit("part-of").as("relType"),
        concat(lit("lives in "), col("n_name")).cast("string").as("context"),
        lit(false).as("bidirectional"), lit(1.0).as("strength"),
        lit(0.9).as("confidence"), lit("").as("segId"),
        map().cast("map<string,string>").as("attributes")).as[Triple]
    graft.query.GraphQueryOps.searchTextRelationships(
      Graph(g.nodes, cn), "lives in nation_1\\d")
      .select(col("id").as("rel_id"), col("context"))
  }

  /** Q6 induced subgraph with neighbor closure: region-0 nations plus
    * their customers and region.
    */
  val q37_subgraph: Q = (s, d) => {
    val g = tpchGraph(s, d)
    val ids = t(s, d, "nation").where(col("n_regionkey") === 0)
      .select(concat(lit("nation_"), col("n_nationkey")))
      .collect().map(_.getString(0)).toSeq
    val sub = graft.query.GraphQueryOps.getSubgraph(
      g, ids, includeNeighbors = true, maxRelationships = 1000000)
    sub.nodes.select(col("id"))
  }

  /** Q7 confidence filter: node confidence keyed to custkey%10, edges kept
    * only when both endpoints survive.
    */
  val q38_confidence_filter: Q = (s, d) => {
    import s.implicits._
    val g = tpchGraph(s, d)
    val nodes = g.nodes.toDF()
      .withColumn("confidence",
        when(col("entityType") === "person",
          (substring_index(col("id"), "_", -1).cast("int") % 10) / lit(10.0))
          .otherwise(lit(1.0))).as[Entity]
    val f = graft.query.GraphQueryOps.filterByConfidence(
      Graph(nodes, g.edges), minConfidence = 0.5)
    f.edges.select(col("id").as("rel_id"))
  }

  /** Q8 connected components: each region's subtree is one component
    * labeled by its minimum member id.
    */
  val q39_connected_components: Q = (s, d) =>
    graft.query.GraphQueryOps.connectedComponents(tpchGraph(s, d))

  /** X8 resolve contradictory: planted causes/prevents pairs — the
    * max-confidence edge of each pair survives.
    */
  val q40_resolve_contradictory: Q = (s, d) => {
    import s.implicits._
    val nodes = tpchGraph(s, d).nodes
    val ca = t(s, d, "nation").select(
      concat(lit("ca_"), col("n_nationkey")).as("id"),
      concat(lit("nation_"), col("n_nationkey")).as("srcId"),
      concat(lit("region_"), col("n_regionkey")).as("dstId"),
      lit("causes").as("relType"),
      when(col("n_nationkey") % 2 === 0, 0.9).otherwise(0.5).as("confidence"),
      lit("").as("segId"))
    val pr = t(s, d, "nation").select(
      concat(lit("pr_"), col("n_nationkey")).as("id"),
      concat(lit("nation_"), col("n_nationkey")).as("srcId"),
      concat(lit("region_"), col("n_regionkey")).as("dstId"),
      lit("prevents").as("relType"), lit(0.7).as("confidence"), lit("").as("segId"))
    val edges = plainEdge(ca.unionByName(pr)).as[Triple]
    graft.reason.Reasoning.resolveContradictory(Graph(nodes, edges))
      .select(col("id").as("rel_id"), col("relType").as("rel_type"))
  }

  /** X5 property conflicts: duplicate same-name entities disagreeing on a
    * planted attribute for custkey%5 = 0.
    */
  val q41_property_conflicts: Q = (s, d) => {
    import s.implicits._
    val cust = t(s, d, "customer")
    def node(prefix: String, seg: Column): DataFrame = cust.select(
      concat(lit(prefix), col("c_custkey")).as("id"),
      col("c_name").as("name"), lit("person").as("entityType"),
      lit(null).cast("string").as("context"),
      map(lit("segment"), seg).as("attributes"),
      lit(1.0).as("confidence"), lit("").as("segId"), lit("").as("repo"),
      lit("").as("path"), lit("").as("contentSha"))
    val a = node("a_", lit("s1"))
    val b = node("b_", when(col("c_custkey") % 5 === 0, "s2").otherwise("s1"))
    val g = Graph(a.unionByName(b).as[Entity],
      tpchGraph(s, d).edges.limit(0))
    graft.reason.Reasoning.detectPropertyConflicts(g)
      .select(col("name"), col("attrKey").as("attr_key"),
        col("idA").as("id_a"), col("idB").as("id_b"))
  }

  /** T11 keyword extraction: top-5 terms per document by frequency
    * (Summarizer's keyword rule over the documents table).
    *
    * Top-k via a bounded per-group aggregate, not a window: row_number
    * sorts EVERY (doc, term) row inside each shuffle partition, while
    * collect_list + array_sort + slice sorts only each document's own
    * distinct-term list (bounded by vocabulary-per-doc) inside a hash
    * aggregate with map-side partials — at 10^9 documents the window's
    * partition sorts are the dominant cost, the per-group k-select is
    * noise. Ordering rule identical to the oracle's row_number
    * (cnt DESC, tok ASC): struct(-cnt, tok) sorts ascending.
    */
  val q42_keywords: Q = (s, d) => {
    val stop = graft.segment.Summarizer.StopWords.toSeq.sorted
    // repartition-after-read (guide §2.5): single unsplittable input file —
    // without this the tokenize+explode+partial-count runs in ONE task
    val toks = t(s, d, "documents")
      .repartition(s.sessionState.conf.numShufflePartitions)
      .select(col("doc_id"), explode(split(lower(col("text")), "[^a-z0-9_]+")).as("tok"))
      .where(length(col("tok")) > 2 && !col("tok").isin(stop: _*))
    toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id")
      .agg(slice(array_sort(collect_list(struct((-col("cnt")).as("nc"),
        col("tok"), col("cnt")))), 1, 5).as("top"))
      .select(col("doc_id"), posexplode(col("top")).as(Seq("i", "t")))
      .select(col("doc_id"), col("t.tok").as("tok"), col("t.cnt").as("cnt"),
        (col("i") + 1).cast("int").as("rn"))
  }

  /** S5 language fallback: unsupported langs map to closest supported. */
  val q43_lang_fallback: Q = (s, d) =>
    graft.ops.TextAnalysis.languageFallback(t(s, d, "documents"))
      .groupBy("lang", "lang_effective").agg(count(lit(1)).as("n_docs"))

  /** Q9 eigenvector centrality on a star graph (closed-form oracle:
    * hub = 1/√2, each of the L leaves = 1/√(2L)).
    */
  val q44_eigenvector: Q = (s, d) => {
    import s.implicits._
    // nation branch + hub directly (≡ the old filtered three-table union:
    // the two filters selected exactly {nations, hub}) — see nationNodeDf
    val nodes = nationNodeDf(s, d)
      .unionByName(Seq(("hub", "Hub")).toDF("id", "name")
        .withColumn("entityType", lit("place"))
        .withColumn("context", lit(null).cast("string"))
        .withColumn("attributes", map().cast("map<string,string>"))
        .withColumn("confidence", lit(1.0))
        .withColumn("segId", lit("")).withColumn("repo", lit(""))
        .withColumn("path", lit("")).withColumn("contentSha", lit(""))).as[Entity]
    val spokes = plainEdge(t(s, d, "nation").select(
      concat(lit("sp_"), col("n_nationkey")).as("id"),
      lit("hub").as("srcId"),
      concat(lit("nation_"), col("n_nationkey")).as("dstId"),
      lit("connected-to").as("relType"), lit(1.0).as("confidence"),
      lit("").as("segId"))).as[Triple]
    graft.query.GraphQueryOps.eigenvectorCentrality(
      Graph(nodes, spokes), iterations = 40)
      .select(col("id"), round(col("score"), 4).as("score"))
  }

  /** Exact n-gram Jaccard over a deterministic pair set (all pairs among
    * doc_id < 40) — oracles the [[graft.ops.Dedup.ngramJaccard]] kernel
    * WITHOUT the LSH candidate dependence (round-2 verdict item: q24's
    * exact-verify stage had no independent oracle). Jaccard is computed
    * from xxhash64-distinct shingle counts, which equal distinct-string
    * counts absent 64-bit collisions (P ≈ 1e-14 at this corpus size).
    */
  val q45_ngram_jaccard: Q = (s, d) => {
    // ≥3-token guard mirrors the oracle's sz-CTE inner joins: a doc with
    // no 3-gram shingles would be dropped by the oracle's sz join but
    // kept (jaccard NaN) by the unconditional pair build — symmetric
    // filters keep both row sets identical on any corpus
    val docs = t(s, d, "documents").where(col("doc_id") < 40 &&
      size(split(col("text"), "\\s+")) >= 3)
    val ids = docs.select(col("doc_id"))
    val pairs = ids.select(col("doc_id").as("idA"))
      .crossJoin(ids.select(col("doc_id").as("idB")))
      .where(col("idA") < col("idB"))
    graft.ops.Dedup.ngramJaccard(docs, pairs)
      .select(col("idA").as("id_a"), col("idB").as("id_b"),
        round(col("jaccard"), 6).as("jaccard_r6"))
  }

  /** Q9 pagerank on a planted ring-with-chord graph: 25 nations in a
    * directed ring, nation_0 ⇄ hub chord. Every in-degree is ≤ 2, so no
    * distributed partial-sum association order can perturb the IEEE result
    * — the oracle is the SAME scalar recurrence run driver-side
    * ([[q46Expected]]) and emitted as literals.
    */
  val q46_pagerank: Q = (s, d) => {
    import s.implicits._
    // nation branch + hub directly (≡ the old filtered union — q44 note)
    val nodes = nationNodeDf(s, d)
      .unionByName(Seq(("hub", "Hub")).toDF("id", "name")
        .withColumn("entityType", lit("place"))
        .withColumn("context", lit(null).cast("string"))
        .withColumn("attributes", map().cast("map<string,string>"))
        .withColumn("confidence", lit(1.0))
        .withColumn("segId", lit("")).withColumn("repo", lit(""))
        .withColumn("path", lit("")).withColumn("contentSha", lit(""))).as[Entity]
    val ring = t(s, d, "nation").select(
      concat(lit("rg_"), col("n_nationkey")).as("id"),
      concat(lit("nation_"), col("n_nationkey")).as("srcId"),
      concat(lit("nation_"), (col("n_nationkey") + 1) % 25).as("dstId"),
      lit("next").as("relType"), lit(1.0).as("confidence"), lit("").as("segId"))
    val chord = Seq(
      ("ch_out", "nation_0", "hub"), ("ch_in", "hub", "nation_0"))
      .toDF("id", "srcId", "dstId")
      .withColumn("relType", lit("next"))
      .withColumn("confidence", lit(1.0)).withColumn("segId", lit(""))
    val edges = plainEdge(ring.unionByName(chord)).as[Triple]
    graft.query.GraphQueryOps.pagerank(Graph(nodes, edges), iterations = 10)
      .select(col("id"), round(col("rank"), 6).as("rank_r6"))
  }

  /** Driver-side scalar replica of [[q46_pagerank]]'s fixed 10 iterations:
    * the identical IEEE operations in the identical order (single- or
    * two-element in-sums only, c = (1−d)/n computed the same way), then
    * the identical HALF_UP rounding Spark's round() applies to doubles.
    */
  private lazy val q46Expected: Seq[(String, String)] = {
    val n = 26.0
    val damping = 0.85
    val c = (1.0 - damping) / n
    var h = 1.0 / n
    var r = Array.fill(25)(1.0 / n)
    var it = 0
    while (it < 10) {
      val nh = c + damping * (r(0) / 2.0)
      val nr = new Array[Double](25)
      var j = 1
      while (j < 25) {
        val inSum = if (j == 1) r(0) / 2.0 else r(j - 1)
        nr(j) = c + damping * inSum
        j += 1
      }
      nr(0) = c + damping * (r(24) + h)
      h = nh
      r = nr
      it += 1
    }
    ("hub" -> r6(h)) +: (0 until 25).map(i => s"nation_$i" -> r6(r(i)))
  }

  /** Spark's round(double, 6) semantics for oracle literals (HALF_UP). */
  private def r6(x: Double): String =
    java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).toPlainString

  /** Planted directed chain nation_0 → nation_1 → … → nation_{len-1}:
    * closed-form closeness and betweenness, unique shortest paths
    * (σ ≡ 1), in-degree ≤ 1 so no distributed fp-sum order can perturb
    * the result. Shared by q47/q48.
    */
  private def chainGraph(s: SparkSession, d: String, len: Int): Graph = {
    import s.implicits._
    // nation branch directly, predicate pushed to the scan (≡ the old
    // id-prefix filter over the three-table union — q44 note)
    val nodes = t(s, d, "nation").where(col("n_nationkey") < len)
      .select(
        concat(lit("nation_"), col("n_nationkey")).as("id"),
        col("n_name").as("name"), lit("place").as("entityType"),
        lit(null).cast("string").as("context"),
        map().cast("map<string,string>").as("attributes"),
        lit(1.0).as("confidence"), lit("").as("segId"), lit("").as("repo"),
        lit("").as("path"), lit("").as("contentSha")).as[Entity]
    val chain = t(s, d, "nation").where(col("n_nationkey") < len - 1).select(
      concat(lit("ch_"), col("n_nationkey")).as("id"),
      concat(lit("nation_"), col("n_nationkey")).as("srcId"),
      concat(lit("nation_"), col("n_nationkey") + 1).as("dstId"),
      lit("next").as("relType"), lit(1.0).as("confidence"), lit("").as("segId"))
    Graph(nodes, plainEdge(chain).as[Triple])
  }

  private val ChainLen = 12

  /** Q9 closeness centrality on the planted chain — sampled Eppstein–Wang
    * run with samples ≥ |V| (so the estimator is EXACT Wasserman–Faust
    * closeness; round-3 advice item 3: the sampled estimator had no
    * driver oracle). Incoming distances: node v is reached by the v
    * predecessors at total distance v(v+1)/2.
    */
  val q47_closeness: Q = (s, d) =>
    graft.query.GraphQueryOps.closenessCentrality(
      chainGraph(s, d, ChainLen), samples = 64, maxDepth = 15)
      .select(col("id"), round(col("closeness"), 6).as("closeness_r6"))

  /** Driver-side replica of q47's arithmetic: the IDENTICAL expression
    * tree — (reached·reached·f) / ((n−1)·Σd) with f = n/sCount — on the
    * closed-form reach counts, then Spark's HALF_UP round(·, 6).
    */
  private lazy val q47Expected: Seq[(String, String)] = {
    val n = ChainLen.toDouble
    val f = n / ChainLen.toDouble // sCount = |V|: the sample is every node
    (0 until ChainLen).map { v =>
      val sumDist = v.toLong * (v + 1) / 2
      val c = if (sumDist > 0) (v.toLong * v) * f / ((n - 1) * sumDist) else 0.0
      s"nation_$v" -> r6(c)
    }
  }

  /** Q9 betweenness centrality on the planted chain — sampled Brandes run
    * with samples ≥ |V| (EXACT; normalized, endpoints excluded): node v
    * lies on the unique path of the v·(len−1−v) ordered pairs strictly
    * around it.
    */
  val q48_betweenness: Q = (s, d) =>
    graft.query.GraphQueryOps.betweennessCentrality(
      chainGraph(s, d, ChainLen), samples = 64, maxDepth = 15)
      .select(col("id"), round(col("betweenness"), 6).as("betweenness_r6"))

  /** Driver-side replica of q48: rawDelta(v) = v·(len−1−v) (integer-exact
    * double sums), scale = (n/sCount)/((n−1)(n−2)) — the identical ops.
    */
  private lazy val q48Expected: Seq[(String, String)] = {
    val n = ChainLen.toDouble
    val scale = (n / ChainLen.toDouble) / ((n - 1) * (n - 2))
    (0 until ChainLen).map { v =>
      s"nation_$v" -> r6((v.toLong * (ChainLen - 1 - v)).toDouble * scale)
    }
  }

  // ------------------------------------------- bucketed read-path entries

  /** One bucketed save of the TPC-H-derived graph per (session, sf-dir):
    * q49/q50 both read it, and re-writing three catalog tables per entry
    * would double-charge the write. The graph lands via
    * [[graft.graphout.GraphStorage.saveBucketed]] — nodes bucketed on id,
    * edges on srcId, PLUS the dstId-bucketed dual edge copy.
    */
  private val bucketedCache =
    scala.collection.mutable.HashMap.empty[(SparkSession, String), graft.graphout.GraphStorage]
  private def bucketedTpch(s: SparkSession, d: String): graft.graphout.GraphStorage =
    synchronized {
      // keyed by the session REFERENCE (SparkSession does not override
      // equals), never its identityHashCode — hash collisions between
      // sessions cannot alias entries; stopped sessions are evicted on
      // access so a long-lived JVM (test suites, repeated bench rounds)
      // does not accumulate dead GraphStorage/session pairs
      bucketedCache.filterInPlace { case ((sess, _), _) => !sess.sparkContext.isStopped }
      bucketedCache.getOrElseUpdate((s, d), {
        val root = "/tmp/graft_bucketed_" + graft.model.Ids.contentSha(d).take(8)
        val st = new graft.graphout.GraphStorage(s, root)
        st.saveBucketed("tpch", tpchGraph(s, d), buckets = 16)
        st
      })
    }

  /** Driver-visible proof of the 100 TB bucketed read path (round-4
    * verdict item 7): node ⨝ edge name attach over `loadBucketed` catalog
    * tables — both sides pre-hash-partitioned and pre-sorted on the join
    * key, so the join plan carries ZERO Exchange (PlanSpec pins this on
    * the broadcast-disabled form).
    */
  val q49_bucketed_join: Q = (s, d) => {
    val st = bucketedTpch(s, d)
    val g = st.loadBucketed("tpch")
    g.edges.toDF()
      .join(g.nodes.toDF().select(col("id").as("srcId"), col("name").as("src_name")),
        Seq("srcId"))
      .select(col("id").as("rel_id"), col("src_name"),
        col("dstId").as("dst_id"), round(col("confidence"), 6).as("confidence"))
  }

  /** In-degree aggregation over the DUAL dstId-bucketed edge copy: the
    * groupBy key IS the bucket column, so the whole plan — scan, partial
    * agg, final agg — runs with ZERO Exchange (PlanSpec-pinned). This is
    * the driver-visible consumer of the dual-sort-order trick.
    */
  val q50_bucketed_indegree: Q = (s, d) => {
    val st = bucketedTpch(s, d)
    st.loadBucketedEdgesByDst("tpch").toDF()
      .groupBy(col("dstId"))
      .agg(count(lit(1)).as("in_degree"))
      .select(col("dstId").as("dst_id"), col("in_degree"))
  }

  /** G4 full graph stats on a planted triangle-plus-spokes graph with
    * closed-form clustering / connectivity / avg-path (round-3 advice
    * item 4: `kg_stats` runs full=false, so the expensive metrics had no
    * driver coverage). Triangle t0-t1-t2 plus spokes t0→s1, t0→s2:
    * clustering = (1/6 + 1 + 1 + 0 + 0)/5, connected, avg path 1.5
    * (sampled estimators run with samples ≥ |V| ⇒ exact).
    */
  val kg_stats_full: Q = (s, _) => {
    import s.implicits._
    val nodes = Seq("t0", "t1", "t2", "s1", "s2").toDF("id")
      .withColumn("name", upper(col("id")))
      .withColumn("entityType", lit("thing"))
      .withColumn("context", lit(null).cast("string"))
      .withColumn("attributes", map().cast("map<string,string>"))
      .withColumn("confidence", lit(1.0))
      .withColumn("segId", lit("")).withColumn("repo", lit(""))
      .withColumn("path", lit("")).withColumn("contentSha", lit("")).as[Entity]
    val edges = plainEdge(Seq(
      ("e1", "t0", "t1"), ("e2", "t1", "t2"), ("e3", "t2", "t0"),
      ("e4", "t0", "s1"), ("e5", "t0", "s2")).toDF("id", "srcId", "dstId")
      .withColumn("relType", lit("linked"))
      .withColumn("confidence", lit(1.0)).withColumn("segId", lit(""))).as[Triple]
    graft.graphout.GraphBuilder.stats(Graph(nodes, edges), full = true)
      .select(col("key"), round(col("value"), 6).as("value_r6"))
  }

  /** G4 basic stats (full=false — the default branch every pipeline run
    * takes) on the same planted graph, hash-oracled: counts, density and
    * the per-type breakdowns are closed-form (round-4 verdict item 5 —
    * the full=false union shape had only the rows-only kg_stats entry).
    */
  val kg_stats_basic: Q = (s, _) => {
    import s.implicits._
    val nodes = Seq("t0", "t1", "t2", "s1", "s2").toDF("id")
      .withColumn("name", upper(col("id")))
      .withColumn("entityType", lit("thing"))
      .withColumn("context", lit(null).cast("string"))
      .withColumn("attributes", map().cast("map<string,string>"))
      .withColumn("confidence", lit(1.0))
      .withColumn("segId", lit("")).withColumn("repo", lit(""))
      .withColumn("path", lit("")).withColumn("contentSha", lit("")).as[Entity]
    val edges = plainEdge(Seq(
      ("e1", "t0", "t1"), ("e2", "t1", "t2"), ("e3", "t2", "t0"),
      ("e4", "t0", "s1"), ("e5", "t0", "s2")).toDF("id", "srcId", "dstId")
      .withColumn("relType", lit("linked"))
      .withColumn("confidence", lit(1.0)).withColumn("segId", lit(""))).as[Triple]
    graft.graphout.GraphBuilder.stats(Graph(nodes, edges), full = false)
      .select(col("key"), round(col("value"), 6).as("value_r6"))
  }

  // ---------------------------------------------------------------- catalog

  val all: Map[String, Q] = Map(
    "q01_agg" -> q01_agg,
    "q02_filter_project" -> q02_filter_project,
    "q03_broadcast_join" -> q03_broadcast_join,
    "q04_anti_join" -> q04_anti_join,
    "q05_semi_join" -> q05_semi_join,
    "q06_self_join_pairs" -> q06_self_join_pairs,
    "q07_keepmax_window" -> q07_keepmax_window,
    "q08_degree_topk" -> q08_degree_topk,
    "q09_traverse_2hop" -> q09_traverse_2hop,
    "q10_token_count" -> q10_token_count,
    "q11_term_freq" -> q11_term_freq,
    "q12_exact_dedup" -> q12_exact_dedup,
    "q13_quality_score" -> q13_quality_score,
    "q14_regex_search" -> q14_regex_search,
    "q15_lang_gate" -> q15_lang_gate,
    "q16_ann_brute" -> q16_ann_brute,
    "q17_events_agg" -> q17_events_agg,
    "q18_set_ops" -> q18_set_ops,
    "q19_traverse_incoming" -> q19_traverse_incoming,
    "q20_find_path" -> q20_find_path,
    "q21_infer_transitive" -> q21_infer_transitive,
    "q22_infer_inverse" -> q22_infer_inverse,
    "q23_cycle_check" -> q23_cycle_check,
    "q24_minhash_dedup" -> q24_minhash_dedup,
    "q25_simhash_dedup" -> q25_simhash_dedup,
    "q26_embed_pairs" -> q26_embed_pairs,
    "q27_embed_neardup_lsh" -> q27_embed_neardup_lsh,
    "q28_ann_ivf" -> q28_ann_ivf,
    "q29_langid" -> q29_langid,
    "q30_fingerprint" -> q30_fingerprint,
    "q31_multimodal" -> q31_multimodal,
    "q32_sessions" -> q32_sessions,
    "q33_dangling_refs" -> q33_dangling_refs,
    "q34_contradictions" -> q34_contradictions,
    "q35_transitive_contra" -> q35_transitive_contra,
    "q36_search_relationships" -> q36_search_relationships,
    "q37_subgraph" -> q37_subgraph,
    "q38_confidence_filter" -> q38_confidence_filter,
    "q39_connected_components" -> q39_connected_components,
    "q40_resolve_contradictory" -> q40_resolve_contradictory,
    "q41_property_conflicts" -> q41_property_conflicts,
    "q42_keywords" -> q42_keywords,
    "q43_lang_fallback" -> q43_lang_fallback,
    "q44_eigenvector" -> q44_eigenvector,
    "q45_ngram_jaccard" -> q45_ngram_jaccard,
    "q46_pagerank" -> q46_pagerank,
    "q47_closeness" -> q47_closeness,
    "q48_betweenness" -> q48_betweenness,
    "q49_bucketed_join" -> q49_bucketed_join,
    "q50_bucketed_indegree" -> q50_bucketed_indegree,
    "kg_stats_full" -> kg_stats_full,
    "kg_stats_basic" -> kg_stats_basic,
    // FULL DuckDB oracle since round 5 (round-4 verdict item 5): the
    // coref-canonicalized closed-form set is committed as a parquet
    // fixture (tools/fixtures, regenerated by graft.tools.FixtureGen
    // which asserts EXACT equality before writing) and the driver
    // hash-compares against it. The in-run P/R invariant stays as the
    // bench-path collapse detector (the bench times entries without
    // running oracles).
    "kg_tripleset" -> ((s, _) => {
      val res = sharedKg(s)
      val expected = graft.corpus.ClosedFormTriples.canonicalizedExpectedSet(400L)
      import s.implicits._
      val expDf = expected.toSeq.toDF("subjName", "relType", "objName")
      // persist: the invariant's two counts plus the driver's own count
      // would otherwise re-run the triple-set projection three times
      val ts = res.tripleSet.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val actualN = ts.count().toDouble
      val hit = ts
        .join(expDf, Seq("subjName", "relType", "objName"), "left_semi")
        .count().toDouble
      val p = hit / actualN
      val r = hit / expected.size
      require(p >= 0.95 && r >= 0.95,
        f"kg_tripleset drifted from the closed-form oracle: P=$p%.4f R=$r%.4f")
      ts
    }),
    "kg_stats" -> ((s, _) => {
      // in-run consistency invariant over INDEPENDENT computations: the
      // per-type groupBy breakdowns must sum back to the count scalars
      // (different aggregation paths over the cached tables), and the
      // density row must equal the formula applied to the returned
      // scalars — a wiring regression in any of the three unions throws
      val st = graphout.GraphBuilder.stats(sharedKg(s).graph)
      val rows = st.collect().map(r => r.getString(0) -> r.getDouble(1))
      val m = rows.toMap
      val entitySum = rows.filter(_._1.startsWith("entity:")).map(_._2).sum
      val relSum = rows.filter(_._1.startsWith("rel:")).map(_._2).sum
      val density =
        if (m("nodes") > 1) m("edges") / (m("nodes") * (m("nodes") - 1)) else 0.0
      require(entitySum == m("nodes") && relSum == m("edges") &&
        math.abs(density - m("density")) < 1e-12,
        s"kg_stats internal inconsistency: typeSums=($entitySum,$relSum) vs $m")
      st
    })
  )

  // one pipeline run shared by the kg_* entries (avoids recomputing the
  // linking stage per query)
  private var kgCache: pipeline.KgPipeline.Result = null
  private def sharedKg(s: SparkSession): pipeline.KgPipeline.Result = synchronized {
    if (kgCache == null) kgCache = pipeline.KgPipeline.runSynthetic(s, 400)
    kgCache
  }

  /** Oracles whose committed fixtures only cover SPECIFIC SFs of the
    * driver corpus (the driver's correctness run is always sf0.01;
    * TESTDATA.md). Verify omits these from oracle_sql.json at any other
    * SF, degrading to the rows-only check — otherwise a local run at an
    * uncovered SF fails the hash compare in a way indistinguishable from
    * a kernel regression (same row count, different values). Round 6
    * widened the sets: q30 fixtures exist per-SF, and the approximate
    * family gained serial-reference fixtures at sf0.001/sf0.01.
    */
  val sfPinnedOracles: Map[String, Set[String]] = Map(
    "q30_fingerprint" -> Set("sf0.001", "sf0.01", "sf0.1"),
    "q24_minhash_dedup" -> Set("sf0.001", "sf0.01"),
    "q25_simhash_dedup" -> Set("sf0.001", "sf0.01"),
    "q27_embed_neardup_lsh" -> Set("sf0.001", "sf0.01"),
    "q28_ann_ivf" -> Set("sf0.001", "sf0.01"))

  /** SF tag for per-SF fixture file names ("sf0.01" → "sf001"). Verify
    * sets the `graft.sf.name` property from its input dir before reading
    * [[oracles]] (a def, so the entries see the property).
    */
  private def sfTag: String =
    sys.props.getOrElse("graft.sf.name", "sf0.01").replace(".", "")

  def oracles: Map[String, String] = Map(
    "q01_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_qty_cents,
        |CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_cents,
        |count(*) AS cnt FROM lineitem GROUP BY 1, 2""".stripMargin,
    "q02_filter_project" ->
      """SELECT l_orderkey, l_partkey, CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents
        |FROM lineitem WHERE l_shipdate < TIMESTAMP '1996-01-01' AND l_discount >= 0.05""".stripMargin,
    "q03_broadcast_join" ->
      """SELECT n_name, count(*) AS n_customers,
        |CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS total_bal_cents
        |FROM customer JOIN nation ON c_nationkey = n_nationkey GROUP BY 1""".stripMargin,
    "q04_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 150000)""".stripMargin,
    "q05_semi_join" ->
      """SELECT p_partkey, p_name FROM part
        |WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)""".stripMargin,
    "q06_self_join_pairs" ->
      """WITH li AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem)
        |SELECT a.l_suppkey AS supp_a, b.l_suppkey AS supp_b, count(*) AS n_shared_orders
        |FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
        |GROUP BY 1, 2""".stripMargin,
    "q07_keepmax_window" ->
      """SELECT o_custkey, o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS best_price_cents
        |FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn FROM orders) WHERE rn = 1""".stripMargin,
    "q08_degree_topk" ->
      """SELECT nk, count(*) AS degree FROM (
        |  SELECT CAST(c_nationkey AS INT) AS nk FROM customer
        |  UNION ALL SELECT CAST(s_nationkey AS INT) AS nk FROM supplier)
        |GROUP BY 1 ORDER BY degree DESC, nk ASC LIMIT 10""".stripMargin,
    "q09_traverse_2hop" ->
      """SELECT r_name, count(*) AS n_customers FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey GROUP BY 1""".stripMargin,
    "q10_token_count" ->
      """SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
        |length(text) AS n_chars_computed FROM documents""".stripMargin,
    "q11_term_freq" ->
      """SELECT term, count(*) AS freq FROM (
        |  SELECT unnest(string_split(text, ' ')) AS term FROM documents)
        |WHERE length(term) > 0 GROUP BY 1""".stripMargin,
    "q12_exact_dedup" ->
      """SELECT md5(text) AS text_hash, count(*) AS n_copies,
        |min(doc_id) AS keeper_doc_id FROM documents GROUP BY 1""".stripMargin,
    "q13_quality_score" ->
      """SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
        |len(list_filter(string_split(text, ' '),
        |  t -> t IN ('the','a','of','and','to','in'))) AS n_stopwords,
        |n_chars FROM documents""".stripMargin,
    "q14_regex_search" ->
      """SELECT doc_id, lang FROM documents
        |WHERE regexp_matches(text, 'spark.*join|join.*spark')""".stripMargin,
    "q15_lang_gate" ->
      """SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents WHERE lang IN ('en','es','de') GROUP BY 1""".stripMargin,
    "q16_ann_brute" ->
      """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
        |SELECT vec_id, label,
        |round(list_dot_product(embedding, qe) /
        |  (sqrt(list_dot_product(embedding, embedding)) * sqrt(list_dot_product(qe, qe))), 4) AS cos_sim
        |FROM embeddings, q WHERE vec_id <> 0
        |ORDER BY cos_sim DESC, vec_id ASC LIMIT 10""".stripMargin,
    "q17_events_agg" ->
      """SELECT user_id, event_type, count(*) AS n_events,
        |CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_value_cents
        |FROM events GROUP BY 1, 2""".stripMargin,
    "q18_set_ops" ->
      """SELECT CAST(n_nationkey AS INT) AS nk FROM nation
        |EXCEPT SELECT CAST(s_nationkey AS INT) AS nk FROM supplier
        |WHERE s_acctbal > 7000""".stripMargin,
    "q19_traverse_incoming" ->
      """SELECT 'region_0' AS parent_id, 'nr_' || n_nationkey AS rel_id,
        |  'part-of' AS rel_type, 'incoming' AS direction,
        |  'nation_' || n_nationkey AS child_id, 1 AS depth
        |FROM nation WHERE n_regionkey = 0
        |UNION ALL
        |SELECT 'nation_' || c_nationkey, 'cn_' || c_custkey, 'part-of',
        |  'incoming', 'cust_' || c_custkey, 2
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |WHERE n_regionkey = 0""".stripMargin,
    "q20_find_path" ->
      """SELECT 'cust_1/nation_' || c_nationkey || '/region_' || n_regionkey AS path_str,
        |  2 AS depth
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |WHERE c_custkey = 1""".stripMargin,
    "q21_infer_transitive" ->
      """SELECT 'cust_' || c_custkey AS src_id, 'region_' || n_regionkey AS dst_id,
        |  'part-of' AS rel_type,
        |  round(CAST(0.9 AS DOUBLE) * CAST(0.8 AS DOUBLE) * CAST(0.9 AS DOUBLE), 6) AS confidence
        |FROM customer JOIN nation ON c_nationkey = n_nationkey""".stripMargin,
    "q22_infer_inverse" ->
      """SELECT 'cust_' || c_custkey AS src_id, 'nation_' || c_nationkey AS dst_id,
        |  'part-of' AS rel_type,
        |  round(CAST(0.9 AS DOUBLE) * CAST(0.95 AS DOUBLE), 6) AS confidence
        |FROM customer""".stripMargin,
    "q23_cycle_check" ->
      """SELECT node_id, 'critical' AS severity FROM (VALUES ('region_0'),
        |  ('region_1'), ('region_2')) AS t(node_id)""".stripMargin,
    "q26_embed_pairs" ->
      """WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 500)
        |SELECT a.vec_id AS ida, b.vec_id AS idb,
        |  round(list_dot_product(a.embedding, b.embedding) /
        |    (sqrt(list_dot_product(a.embedding, a.embedding)) *
        |     sqrt(list_dot_product(b.embedding, b.embedding))), 4) AS cos_sim
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE round(list_dot_product(a.embedding, b.embedding) /
        |    (sqrt(list_dot_product(a.embedding, a.embedding)) *
        |     sqrt(list_dot_product(b.embedding, b.embedding))), 4) >= 0.5""".stripMargin,
    "q33_dangling_refs" ->
      """SELECT 'cn_' || c_custkey AS rel_id, 'nation_' || c_nationkey AS missing_id,
        |  'critical' AS severity FROM customer""".stripMargin,
    "q34_contradictions" ->
      """SELECT 'nr_' || n_nationkey AS id_a, 'sep_' || n_nationkey AS id_b,
        |  'medium' AS severity FROM nation WHERE n_regionkey = 0""".stripMargin,
    "q35_transitive_contra" ->
      """SELECT 'cust_' || c_custkey AS src_id, 'region_' || n_regionkey AS dst_id
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |WHERE c_custkey <= 50""".stripMargin,
    "q36_search_relationships" ->
      """SELECT 'cn_' || c_custkey AS rel_id, 'lives in ' || n_name AS context
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |WHERE regexp_matches(lower(n_name), 'nation_1[0-9]')""".stripMargin,
    "q37_subgraph" ->
      """SELECT 'nation_' || n_nationkey AS id FROM nation WHERE n_regionkey = 0
        |UNION ALL SELECT 'region_0'
        |UNION ALL SELECT 'cust_' || c_custkey
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |WHERE n_regionkey = 0""".stripMargin,
    "q38_confidence_filter" ->
      """SELECT 'cn_' || c_custkey AS rel_id FROM customer WHERE c_custkey % 10 >= 5
        |UNION ALL SELECT 'nr_' || n_nationkey FROM nation""".stripMargin,
    "q39_connected_components" ->
      """WITH rc AS (
        |  SELECT n_regionkey AS rk, min('cust_' || c_custkey) AS comp
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey GROUP BY 1)
        |SELECT 'cust_' || c_custkey AS id, comp
        |FROM customer JOIN nation ON c_nationkey = n_nationkey JOIN rc ON n_regionkey = rk
        |UNION ALL SELECT 'nation_' || n_nationkey, comp FROM nation JOIN rc ON n_regionkey = rk
        |UNION ALL SELECT 'region_' || r_regionkey, comp FROM region JOIN rc ON r_regionkey = rk""".stripMargin,
    "q40_resolve_contradictory" ->
      """SELECT CASE WHEN n_nationkey % 2 = 0 THEN 'ca_' || n_nationkey
        |            ELSE 'pr_' || n_nationkey END AS rel_id,
        |       CASE WHEN n_nationkey % 2 = 0 THEN 'causes' ELSE 'prevents' END AS rel_type
        |FROM nation""".stripMargin,
    "q41_property_conflicts" ->
      """SELECT c_name AS name, 'segment' AS attr_key,
        |  'a_' || c_custkey AS id_a, 'b_' || c_custkey AS id_b
        |FROM customer WHERE c_custkey % 5 = 0""".stripMargin,
    "q42_keywords" ->
      ("""WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z0-9_]+')) AS tok
        |  FROM documents),
        |filt AS (SELECT doc_id, tok FROM toks
        |  WHERE length(tok) > 2 AND tok NOT IN (""".stripMargin +
        graft.segment.Summarizer.StopWords.toSeq.sorted.map("'" + _ + "'").mkString(",") +
        """)),
        |cnt AS (SELECT doc_id, tok, count(*) AS cnt FROM filt GROUP BY 1, 2),
        |rnk AS (SELECT doc_id, tok, cnt,
        |  row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, tok ASC) AS rn FROM cnt)
        |SELECT doc_id, tok, CAST(cnt AS BIGINT) AS cnt, CAST(rn AS INT) AS rn
        |FROM rnk WHERE rn <= 5""".stripMargin),
    "q43_lang_fallback" ->
      """SELECT lang,
        |  CASE WHEN lang IN ('ru','en') THEN lang
        |       WHEN lang IN ('uk','be') THEN 'ru'
        |       WHEN lang IN ('de','nl','fr','es','it','pt','pl') THEN 'en'
        |       ELSE 'en' END AS lang_effective,
        |  count(*) AS n_docs
        |FROM documents GROUP BY 1, 2""".stripMargin,
    "q44_eigenvector" ->
      """SELECT 'hub' AS id, round(CAST(1 AS DOUBLE)/sqrt(2), 4) AS score
        |UNION ALL
        |SELECT 'nation_' || n_nationkey, round(CAST(1 AS DOUBLE)/sqrt(50), 4)
        |FROM nation""".stripMargin,
    "q29_langid" -> {
      // mirror of TextAnalysis.languageId: stopword-hit counts over the
      // whitespace tokens of lower(first 1000 chars), argmax broken by
      // lang DESC (sort_array desc on the (hits, lang) struct)
      val perLang = graft.ops.TextAnalysis.StopwordLexicon.toSeq.sortBy(_._1)
        .map { case (lang, words) =>
          s"SELECT doc_id, '$lang' AS lang, len(list_filter(t, x -> x IN (" +
            words.map(w => "'" + w + "'").mkString(",") + "))) AS hits FROM tk"
        }.mkString("\n  UNION ALL ")
      """WITH tk AS (SELECT doc_id,
        |  string_split_regex(lower(substring(text, 1, 1000)), '\s+') AS t
        |  FROM documents),
        |sc AS (""".stripMargin + perLang + """),
        |r AS (SELECT doc_id, lang, hits, row_number() OVER (
        |  PARTITION BY doc_id ORDER BY hits DESC, lang DESC) AS rn FROM sc)
        |SELECT doc_id, lang AS lang_guess, CAST(hits AS INT) AS lang_hits
        |FROM r WHERE rn = 1""".stripMargin
    },
    "q45_ngram_jaccard" ->
      """WITH tk AS (SELECT doc_id, string_split_regex(text, '\s+') AS t
        |  FROM documents
        |  WHERE doc_id < 40 AND len(string_split_regex(text, '\s+')) >= 3),
        |sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
        |  FROM (SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i FROM tk)),
        |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
        |inter AS (SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS ni
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |pairs AS (SELECT a.doc_id AS ida, b.doc_id AS idb
        |  FROM sz a JOIN sz b ON a.doc_id < b.doc_id)
        |SELECT p.ida AS id_a, p.idb AS id_b,
        |  round(CAST(coalesce(ni, 0) AS DOUBLE) / (sa.sz + sb.sz - coalesce(ni, 0)), 6)
        |    AS jaccard_r6
        |FROM pairs p
        |LEFT JOIN inter i ON p.ida = i.ida AND p.idb = i.idb
        |JOIN sz sa ON sa.doc_id = p.ida
        |JOIN sz sb ON sb.doc_id = p.idb""".stripMargin,
    "q46_pagerank" ->
      ("SELECT id, CAST(rank_str AS DOUBLE) AS rank_r6 FROM (VALUES " +
        q46Expected.map { case (id, v) => s"('$id', '$v')" }.mkString(", ") +
        ") AS t(id, rank_str)"),
    "q47_closeness" ->
      ("SELECT id, CAST(v AS DOUBLE) AS closeness_r6 FROM (VALUES " +
        q47Expected.map { case (id, v) => s"('$id', '$v')" }.mkString(", ") +
        ") AS t(id, v)"),
    "q48_betweenness" ->
      ("SELECT id, CAST(v AS DOUBLE) AS betweenness_r6 FROM (VALUES " +
        q48Expected.map { case (id, v) => s"('$id', '$v')" }.mkString(", ") +
        ") AS t(id, v)"),
    "q49_bucketed_join" ->
      """SELECT 'cn_' || c_custkey AS rel_id, c_name AS src_name,
        |  'nation_' || c_nationkey AS dst_id, CAST(0.9 AS DOUBLE) AS confidence
        |FROM customer
        |UNION ALL
        |SELECT 'nr_' || n_nationkey, n_name, 'region_' || n_regionkey,
        |  CAST(0.8 AS DOUBLE)
        |FROM nation""".stripMargin,
    "q50_bucketed_indegree" ->
      """SELECT 'nation_' || c_nationkey AS dst_id, count(*) AS in_degree
        |FROM customer GROUP BY 1
        |UNION ALL
        |SELECT 'region_' || n_regionkey, count(*) FROM nation GROUP BY 1""".stripMargin,
    "kg_tripleset" ->
      ("SELECT subjName, relType, objName FROM read_parquet('" +
        fixturePath("tools/fixtures/closed_form_triples_400.parquet") + "')"),
    // q30/q31 fixture oracles (round 5): both entries are EXACTLY
    // deterministic (unlike the LSH/IVF family), so each is hash-compared
    // against a committed fixture that FixtureGen refuses to write unless
    // an independent computation matches exactly — q30 vs a public-spec
    // XXH64 reimplementation (RefXxh64, NOT Spark's hash), q31 vs a
    // serial no-Spark driver loop over the same codecs. sf0.01-pinned
    // like the driver's correctness run (TESTDATA.md: t2 uses sf0.01).
    "q30_fingerprint" ->
      ("SELECT doc_id, fingerprint FROM read_parquet('" +
        fixturePath(s"tools/fixtures/fingerprints_$sfTag.parquet") + "')"),
    // round-6 fixture oracles for the approximate family: the banding /
    // probing algorithms are DETERMINISTIC (only their relation to exact
    // similarity is approximate), so their outputs on the frozen per-SF
    // corpora are pinned by committed fixtures that FixtureGen refuses
    // to write unless the independent serial reimplementation
    // (graft.tools.RefApprox — RefXxh64 hashing, raw-band-value buckets,
    // string-set Jaccard) matches the Spark pipeline exactly. Reference
    // contract: the blocking stage these stand in for,
    // src/knowledge/coreference_resolver.py:244-286.
    "q24_minhash_dedup" ->
      ("SELECT idA, idB, jaccard FROM read_parquet('" +
        fixturePath(s"tools/fixtures/lsh_minhash_$sfTag.parquet") + "')"),
    "q25_simhash_dedup" ->
      ("SELECT idA, idB, hamming FROM read_parquet('" +
        fixturePath(s"tools/fixtures/lsh_simhash_$sfTag.parquet") + "')"),
    "q27_embed_neardup_lsh" ->
      ("SELECT idA, idB, cosine FROM read_parquet('" +
        fixturePath(s"tools/fixtures/lsh_embed_$sfTag.parquet") + "')"),
    "q28_ann_ivf" ->
      ("SELECT qid, id, cos_sim, rank FROM read_parquet('" +
        fixturePath(s"tools/fixtures/ivf_topk_$sfTag.parquet") + "')"),
    // round-6: kg_stats (full=false on the 400-file pipeline graph) gains
    // a fixture computed by graft.corpus.ClosedFormGraph — an independent
    // serial replay of extraction→linking→redirect→stats (node/edge/type
    // counts), closing the last non-approximate rows-only entry.
    "kg_stats" ->
      ("SELECT key, value FROM read_parquet('" +
        fixturePath("tools/fixtures/kg_stats_400.parquet") + "')"),
    "q31_multimodal" ->
      ("SELECT mediaId, mediaType, nBytes, payloadSha, meanLuma, " +
        "resizedW, resizedH, nFramesSampled, decodeError FROM read_parquet('" +
        fixturePath("tools/fixtures/media_features_2000.parquet") + "')"),
    "kg_stats_basic" ->
      """SELECT key, CAST(v AS DOUBLE) AS value_r6 FROM (VALUES
        |  ('nodes', '5.0'), ('edges', '5.0'), ('density', '0.25'),
        |  ('entity:thing', '5.0'), ('rel:linked', '5.0')) AS t(key, v)""".stripMargin,
    "kg_stats_full" ->
      """SELECT key, CAST(v AS DOUBLE) AS value_r6 FROM (VALUES
        |  ('nodes', '5.0'), ('edges', '5.0'), ('density', '0.25'),
        |  ('avg_clustering', '0.433333'), ('is_connected', '1.0'),
        |  ('avg_shortest_path', '1.5'),
        |  ('entity:thing', '5.0'), ('rel:linked', '5.0')) AS t(key, v)""".stripMargin,
    "q32_sessions" ->
      """SELECT user_id, session_seq, count(*) AS n_events,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS session_value_cents FROM (
        |  SELECT user_id, value, CAST(sum(new_session) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
        |  FROM (
        |    SELECT user_id, ts, event_id, value,
        |      CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |        IS NULL OR epoch_us(ts) - epoch_us(lag(ts) OVER (
        |          PARTITION BY user_id ORDER BY ts, event_id)) > 1800000000
        |      THEN 1 ELSE 0 END AS new_session
        |    FROM events))
        |GROUP BY 1, 2""".stripMargin
  )
}
