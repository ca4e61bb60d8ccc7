package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft session's shape is decided. [[local]] builds
  * the session every main runs on and [[persistent]] the Hive-backed
  * one of a deployment; both take [[shared]] and [[apply]]: the r22
  * shuffle I/O tuning below (guide §1.2 step 3 — config AFTER the
  * algorithm, from measurement), the generated-class cache size
  * ([[CodegenCacheEntries]]) and stage-id-free generated class names.
  *
  * Root cause (thread-dump-attributed): with `shuffle.partitions` at
  * the local core count (32 ≤ the 200 default
  * `spark.shuffle.sort.bypassMergeThreshold`), every SQL exchange write
  * picked `BypassMergeSortShuffleWriter`, which opens ONE FILE PER
  * REDUCER PER MAP TASK. On this sandbox's virtio filesystem a file
  * create costs ~5-8 ms of kernel CPU, so every exchange map task paid
  * a fixed ~200-240 ms in `FileOutputStream.open0` regardless of row
  * count — the dominant cost of the whole bench at sf0.1 (measured:
  * a 3000-row scan+groupBy stage burned 7.6 s of task CPU; with the
  * serialized writer it is ~0.3-0.45 s).
  *
  *   - `spark.shuffle.sort.bypassMergeThreshold=1` forces the
  *     serialized (Unsafe) shuffle writer, which writes one spill file
  *     + one index per map task instead of R files. At production
  *     reducer counts (R > 200) bypass never triggers anyway, so this
  *     only makes small-R behavior match the large-R path — strictly
  *     fewer file creates at every scale, not a local[32] special.
  *   - `spark.local.dir` moves shuffle/spill/broadcast scratch to
  *     tmpfs when the host has one (/dev/shm) with at least
  *     [[ShmFloorBytes]] free, sidestepping the slow virtio file
  *     creates entirely; production deployments point this at fast
  *     local disks for exactly this reason (guide §2.1: local disk
  *     bandwidth can be the tighter shuffle limit). A smaller tmpfs
  *     (Docker's default /dev/shm is 64 MB) would turn every shuffle
  *     into ENOSPC, so it keeps the JVM default.
  *
  * Both shuffle settings are env-overridable so an operator can pin
  * different values without a rebuild: SPARK_GRAFT_BYPASS_THRESHOLD,
  * SPARK_GRAFT_LOCAL_DIR (set to "default" to keep the JVM default).
  */
object SessionTuning {

  /** Free space /dev/shm must have before shuffle scratch moves there. */
  val ShmFloorBytes: Long = 1L << 30

  /** Decided (and logged) once per JVM. */
  private lazy val localDir: Option[String] = {
    val (dir, why) = sys.env.get("SPARK_GRAFT_LOCAL_DIR") match {
      case Some("default") => (None, "SPARK_GRAFT_LOCAL_DIR=default")
      case Some(d) => (Some(d), "SPARK_GRAFT_LOCAL_DIR")
      case None =>
        val shm = new java.io.File("/dev/shm")
        val free = if (shm.isDirectory && shm.canWrite) shm.getUsableSpace else 0L
        val mb = s"/dev/shm has ${free >> 20} MB free, floor ${ShmFloorBytes >> 20} MB"
        if (free >= ShmFloorBytes) (Some("/dev/shm/graft-scratch"), mb)
        else (None, mb)
    }
    System.err.println(
      s"[session] spark.local.dir = ${dir.getOrElse("JVM default")} ($why)")
    dir
  }

  /** `spark.sql.codegen.cache.maxEntries`: how many generated classes
    * Spark keeps compiled. The cache is one per JVM, keyed by the
    * generated source, least recently used out; Spark's default is 100.
    *
    * A served engine runs the same named handlers again and again, so
    * the classes it needs form a fixed working set, and a cyclic mix
    * larger than the cache evicts every class before its next use. At
    * sf0.01 the 16 queries `graft.Bench` scores generate about 398
    * distinct classes and the 8 widest-reply queries about 103, so at
    * the default nearly every request recompiled its plan: about 24
    * Janino compiles per request on perfbench's `serve_headline` and 5
    * on `serve_wide`. 1024 holds the larger set about 2.5 times over.
    * Measured on 4 vCPU, 10 alternating runs each, default → 1024:
    * `serve_headline` median qps 1.73 → 2.53 and p50 latency 2.24 s →
    * 1.48 s, with 1140–1203 → 4–16 compiles per measured window;
    * `serve_wide` median qps 3.36 → 3.89, 184–270 → 5–10 compiles.
    * Cached classes stay loaded: a walk over 16 first-seen catalog
    * queries ended with 3 MB more metaspace (166.6 → 169.9 MB).
    *
    * This is a STATIC conf read once, when Spark first generates code
    * in the JVM: the session active then sets it for every later
    * session, and no later session can change it.
    */
  val CodegenCacheEntries: Int = 1024

  /** The tuning every graft session takes: the shuffle settings above,
    * [[CodegenCacheEntries]], and `spark.sql.codegen.useIdInClassName`
    * off, so a generated class is named `GeneratedIterator` rather than
    * `GeneratedIteratorForCodegenStage<id>`. Adaptive execution numbers
    * codegen stages in the order it creates query stages; when a plan's
    * independent branches finish in either order their ids swap between
    * runs, and with the id in the class name the same code misses the
    * class cache (`ns_pipeline_manifest` compiled 4 classes on most runs).
    */
  def apply(b: SparkSession.Builder): SparkSession.Builder = {
    val bypass = sys.env.getOrElse("SPARK_GRAFT_BYPASS_THRESHOLD", "1")
    val withBypass = b
      .config("spark.shuffle.sort.bypassMergeThreshold", bypass)
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toLong)
      .config("spark.sql.codegen.useIdInClassName", "false")
    localDir.fold(withBypass)(d => withBypass.config("spark.local.dir", d))
  }

  /** What every graft session shares, local or persistent: UTC and the
    * native functions of [[graft.plans.GraftExtensions]]. */
  def shared(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", classOf[graft.plans.GraftExtensions].getName)

  /** The session of every main: `local[SPARK_GRAFT_CPUS]` (else
    * `defaultCpus`) with as many shuffle partitions, the [[shared]]
    * settings, the [[apply]] tuning, UI off and WARN logging. With
    * `statsDir`, the fixtures there are registered as stats-bearing
    * tables with CBO on ([[Tables.registerWithStats]]) — the shape the
    * bench and the correctness gate run, and a production deployment
    * gets from [[persistent]].
    */
  def local(defaultCpus: Int, statsDir: Option[String] = None): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    val spark = shared(apply(SparkSession.builder()))
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    statsDir.foreach(Tables.registerWithStats(spark, _))
    spark
  }

  /** The deployment session ([[graft.engine.Engine.persistent]]): a
    * Hive-backed catalog in an embedded Derby metastore under
    * `metastoreDir` (a warehouse-scale deployment swaps the JDBC URL
    * for its shared metastore service; nothing else changes), managed
    * tables under `warehouseDir`, and cost-based optimization on, with
    * column histograms, so the ANALYZE stats of
    * [[Tables.registerWithStats]] steer join order and build side. The
    * tables and their stats outlive the process, like the reference's
    * always-on database (`src/processor.ts:41-51`).
    *
    * `spark.sql.catalogImplementation` is a STATIC conf — the FIRST
    * session built in a JVM fixes it for every later session sharing
    * the context.
    */
  def persistent(
      warehouseDir: String,
      metastoreDir: String,
      master: String = s"local[${Runtime.getRuntime.availableProcessors()}]",
      shufflePartitions: Int = 32): SparkSession.Builder =
    shared(apply(SparkSession.builder()))
      .master(master)
      .enableHiveSupport()
      .config("spark.sql.warehouse.dir", warehouseDir)
      .config("javax.jdo.option.ConnectionURL",
        s"jdbc:derby:;databaseName=$metastoreDir/metastore_db;create=true")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.cbo.enabled", "true")
      .config("spark.sql.cbo.joinReorder.enabled", "true")
      .config("spark.sql.statistics.histogram.enabled", "true")
}
