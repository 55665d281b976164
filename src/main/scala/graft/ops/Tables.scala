package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** One reader per fixture table (schemas: FIXTURES.md).
  * Parquet carries the schema. Each table's footer schema is read once and
  * memoized, so a table read launches no Spark job (see [[schema]]).
  */
object T {
  /** Footer schemas, one entry per path. Each holds the version it was read
    * at: length and modification time (tests overwrite scratch fixture
    * directories in place) and the session's `nanosAsLong`, under which
    * events.ts reads as a long. A different version replaces the entry.
    */
  private val schemaMemo =
    new java.util.concurrent.ConcurrentHashMap[String, ((Long, Long, String), StructType)]()

  /** The footer schema of `dir/name.parquet`. Spark's own inference runs a
    * one-task job per read, ~30-70 ms of fixed cost on every query, paid
    * again on each warm run; the memo pays it once per table version.
    */
  def schema(s: SparkSession, dir: String, name: String): StructType = {
    val path = new Path(s"$dir/$name.parquet")
    val st = path.getFileSystem(s.sparkContext.hadoopConfiguration).getFileStatus(path)
    val nanos = s.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false")
    val version = (st.getLen, st.getModificationTime, nanos)
    schemaMemo.compute(path.toString, (p, memo) =>
      if (memo != null && memo._1 == version) memo
      else (version, s.read.parquet(p).schema))._2
  }

  /** A fresh relation on every call: never cache the DataFrame, self-joins
    * (e.g. qc_fk_orphans) need fresh attribute ids. */
  def read(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.schema(schema(s, dir, name)).parquet(s"$dir/$name.parquet")

  /** events.ts has shipped in three parquet encodings across fixture
    * generations: TIMESTAMP(NANOS) (Spark 4 refuses it outright —
    * PARQUET_TYPE_ILLEGAL — unless read as long via the legacy session
    * conf, then floor-divided to µs, the exact truncation DuckDB applies
    * on the same file), TIMESTAMP(MICROS) adjusted-to-UTC (native
    * TimestampType), and TIMESTAMP(MICROS) naive (TimestampNTZType).
    * Branch on the footer schema and normalize all three to TimestampType
    * carrying the same µs-since-epoch: every session here pins
    * spark.sql.session.timeZone=UTC, so the NTZ→LTZ cast reinterprets the
    * naive wall-clock as UTC — bit-identical to what the nanos path
    * produced, and the same wall-clock DuckDB's naive TIMESTAMP shows, so
    * oracle parity holds across generations.
    */
  private def eventsRaw(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = read(s, d, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }
  }

  /** Fixed per-op scratch dir (ops overwrite it on each run) — a fresh
    * createTempDirectory per invocation would accumulate full table copies
    * across repeated Verify/Bench sweeps until /tmp fills. Keyed by pid so
    * concurrent Verify/Bench JVMs (possibly at different sf) never
    * interleave one run's write with another's read-back.
    */
  private val pid = java.lang.ProcessHandle.current().pid()
  private lazy val scratchRoot: java.nio.file.Path = {
    val root = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), s"graft_scratch_$pid")
    java.nio.file.Files.createDirectories(root)
    // Per-pid dirs would otherwise accumulate across sweeps; remove this
    // JVM's scratch on exit (best-effort — a kill -9 leaks one dir).
    sys.addShutdownHook {
      import java.nio.file.{Files, Path}
      import java.util.Comparator
      try Files.walk(root).sorted(Comparator.reverseOrder[Path]())
        .forEach(p => { Files.deleteIfExists(p); () })
      catch { case _: Throwable => () }
    }
    root
  }
  def scratch(name: String): String = scratchRoot.resolve(name).toString

  /** Scratch path keyed by dataset dir — for _SUCCESS-gated build-once
    * artifacts (IVF index, inverted index): the same op invoked at a
    * different sf must not reuse the other scale's cache. One home for
    * the sanitization so the gated caches can never silently collide.
    * Cross-JVM isolation comes from [[scratchRoot]] being pid-keyed —
    * a decade_gate.sh Verify and a quiet bench running concurrently each
    * build their own copy, so no process ever reads an index another
    * process is writing. Within a JVM, [[buildOnce]] makes the publish
    * atomic anyway (temp dir + rename), so even a same-path writer can
    * never expose a half-written table.
    */
  def scratchFor(dir: String, name: String): String =
    scratch(s"${name}_${dir.replaceAll("[^A-Za-z0-9.]", "_")}")

  /** Atomic build-once gate for _SUCCESS-gated index artifacts: if
    * `path/_SUCCESS` is absent, run `write` against a sibling temp dir,
    * then rename the finished dir into place. The rename is the commit
    * point — a reader of `path` sees either nothing or a complete table,
    * never a torn one. A stale partial dir (crashed earlier build, no
    * _SUCCESS) is cleared before the rename; if a competing writer wins
    * the rename race, our temp build is discarded and the winner served.
    */
  def buildOnce(path: String)(write: String => Unit): String = {
    val dst = new java.io.File(path)
    def done = new java.io.File(dst, "_SUCCESS").exists()
    if (!done) {
      val tmp = new java.io.File(
        path + ".build-" + java.util.UUID.randomUUID().toString.take(8))
      try write(tmp.toString)
      catch { case e: Throwable => deleteRecursively(tmp); throw e }
      if (!done) {
        if (dst.exists()) deleteRecursively(dst)
        if (!tmp.renameTo(dst)) {
          deleteRecursively(tmp)
          // A lost rename race leaves the winner's complete table at dst;
          // any other cause (perms, cross-device scratch) would leave the
          // caller reading a missing path — surface it here, not there.
          if (!done) sys.error(
            s"buildOnce: rename $tmp -> $dst failed and no competing " +
              "build published (_SUCCESS absent)")
        }
      } else deleteRecursively(tmp)
    }
    path
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    import java.nio.file.{Files, Path}
    import java.util.Comparator
    if (f.exists()) {
      val walk = Files.walk(f.toPath)
      try walk.sorted(Comparator.reverseOrder[Path]())
        .forEach(p => { Files.deleteIfExists(p); () })
      finally walk.close()
    }
  }

  def region(s: SparkSession, d: String): DataFrame    = read(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = read(s, d, "nation")
  def supplier(s: SparkSession, d: String): DataFrame  = read(s, d, "supplier")
  def customer(s: SparkSession, d: String): DataFrame  = read(s, d, "customer")
  def part(s: SparkSession, d: String): DataFrame      = read(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = read(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = read(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame    = eventsRaw(s, d)
  def documents(s: SparkSession, d: String): DataFrame = read(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = read(s, d, "embeddings")
}
