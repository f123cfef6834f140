package graft.model

import java.nio.channels.FileChannel
import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Derived parquet copies of a dataset (graph frames, bucketed and
  * date-partitioned tables), reused across sessions and JVMs.
  *
  *  - Root: one directory per (user, kind, dataset dir) under
  *    `java.io.tmpdir`. The dataset tag is 16 hex chars of SHA-256 of the
  *    absolute normalized path, so two dataset dirs never share a root.
  *    The user name keeps users on one host apart, and a root that is not
  *    writable fails loudly.
  *  - Entry: `<name>/` holds the parquet copy and `<name>.fp` the source
  *    fingerprint (relative path, size and mtime of every dataset file).
  *    A copy is served only when the marker matches the current
  *    fingerprint and the parquet `_SUCCESS` is present, so a regenerated
  *    dataset or a torn write rebuilds it.
  *  - Lock: a build runs under an OS lock on `<name>.lock`, so concurrent
  *    sessions on one entry build once and the rest read the winner's copy.
  *    The kernel frees the lock when its holder dies. The zero-byte file
  *    stays after release: unlinking it would let a waiter lock an
  *    orphaned inode. Inside one JVM a monitor per entry serializes
  *    callers first, since a second `FileChannel.lock` on a file this JVM
  *    already locks throws `OverlappingFileLockException`; it is per entry
  *    because builds nest (ktruss reads triangles, und_adj reads fact_edges).
  */
object CacheDirs {

  def dirTag(d: String): String = {
    val abs = Paths.get(d).toAbsolutePath.normalize.toString
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(abs.getBytes("UTF-8")).take(8).map(b => f"$b%02x").mkString
  }

  def root(kind: String, d: String): String = {
    val user = Option(System.getProperty("user.name")).getOrElse("nouser")
      .replaceAll("[^A-Za-z0-9_.-]", "_")
    val p = Paths.get(System.getProperty("java.io.tmpdir"), s"graft_cache_$user",
      s"${kind}_${dirTag(d)}")
    Files.createDirectories(p)
    require(Files.isWritable(p),
      s"graft cache root $p exists but is not writable (foreign owner?)")
    p.toString
  }

  /** Fingerprint of the source dataset dir: sorted (relative path, size,
    * mtime) of every file under it, hashed. Metadata-only — no data read.
    */
  def fingerprint(d: String): String = {
    val base = Paths.get(d).toAbsolutePath.normalize
    val sb = new StringBuilder
    if (Files.isDirectory(base)) {
      val stream = Files.walk(base)
      try {
        stream.filter(Files.isRegularFile(_)).sorted().forEach { p =>
          sb.append(base.relativize(p)).append('|').append(Files.size(p)).append('|')
            .append(Files.getLastModifiedTime(p).toMillis).append('\n')
        }
      } finally stream.close()
    }
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(sb.toString.getBytes("UTF-8")).map(b => f"$b%02x").mkString
  }

  /** On-disk bytes of a cache entry (0 if absent): a size signal for
    * frames that are always parquet-backed, read without a count job.
    */
  def entryBytes(kind: String, d: String, name: String): Long = {
    val p = Paths.get(root(kind, d), name)
    if (!Files.isDirectory(p)) 0L
    else {
      val stream = Files.walk(p)
      try stream.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally stream.close()
    }
  }

  private val monitors = new java.util.concurrent.ConcurrentHashMap[Path, AnyRef]

  /** The entry's data path, after `write` has filled it unless a valid
    * copy was there. Validity is checked again once the lock is held, so
    * a waiter reads the winner's copy instead of rebuilding it.
    */
  private def readThrough(kind: String, d: String, name: String)(write: Path => Unit): Path = {
    val rootDir = Paths.get(root(kind, d))
    val data = rootDir.resolve(name)
    val marker = rootDir.resolve(s"$name.fp")
    val fp = fingerprint(d)
    def valid = Files.exists(marker) && Files.readString(marker) == fp &&
      Files.exists(data.resolve("_SUCCESS"))
    if (!valid) {
      val lock = rootDir.resolve(s"$name.lock")
      monitors.computeIfAbsent(lock, _ => new Object).synchronized {
        val ch = FileChannel.open(lock, StandardOpenOption.CREATE, StandardOpenOption.WRITE)
        try {
          ch.lock() // released by close(), or by the kernel if this JVM dies
          if (!valid) {
            Files.deleteIfExists(marker)
            write(data)
            Files.writeString(marker, fp)
          }
        } finally ch.close()
      }
    }
    data
  }

  /** Read-through parquet cache for an expensive derived frame, written
    * hive-partitioned on `partitionCols` (filters on them prune
    * directories). The returned frame is always parquet-backed, so later
    * scans get column pruning and pushdown.
    */
  def cachedParquet(spark: SparkSession, kind: String, d: String,
      name: String, partitionCols: Seq[String] = Nil)(build: => DataFrame): DataFrame = {
    val data = readThrough(kind, d, name) { path =>
      val w = build.write.mode("overwrite")
      (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
        .parquet(path.toString)
    }
    spark.read.parquet(data.toString)
  }

  /** Read-through cache for a table stored bucketed and sorted on
    * `bucketCol`: joins and groupings on it read the scan's hash
    * partitioning, with no exchange. The catalog entry is per Spark
    * application, so a new application over a valid copy re-registers the
    * bucket spec with DDL instead of rebuilding.
    */
  def cachedBucketedTable(spark: SparkSession, kind: String, d: String,
      name: String, buckets: Int, bucketCol: String)(build: => DataFrame): DataFrame = {
    val table = s"graft_${name}_${dirTag(d)}"
    val data = readThrough(kind, d, name) { path =>
      spark.sql(s"DROP TABLE IF EXISTS $table")
      build.write.mode("overwrite").bucketBy(buckets, bucketCol).sortBy(bucketCol)
        .option("path", path.toString).format("parquet").saveAsTable(table)
    }
    if (!spark.catalog.tableExists(table)) {
      val schemaDdl = spark.read.parquet(data.toString).schema.toDDL
      spark.sql(s"CREATE TABLE $table ($schemaDdl) USING PARQUET " +
        s"CLUSTERED BY ($bucketCol) SORTED BY ($bucketCol) INTO $buckets BUCKETS " +
        s"LOCATION '$data'")
    }
    spark.table(table)
  }
}
