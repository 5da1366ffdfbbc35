package graft.sources

import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** The storage seam under ALL engine state IO (VERDICT r3 #1 / SURVEY
  * §7.4): IceLite snapshot metadata + manifests and every scratch dir go
  * through this trait instead of calling `java.nio` directly.
  *
  * Why it exists: in `local[*]` driver and executors share one local
  * filesystem, so raw `java.nio` paths work — but the north rule's
  * deployment is spark-submit on a multi-executor cluster, where
  * snapshot JSON and manifests must land on SHARED storage
  * (HDFS/S3A/...) next to the parquet data they describe. Two impls:
  *
  *  - [[StateIO.Nio]] — plain local paths (`/tmp/...`), byte-identical
  *    to the previous direct-java.nio behavior; the sandbox default.
  *  - [[StateIO.Hadoop]] — any URI with a scheme (`file://`, `hdfs://`,
  *    `s3a://`, ...) through `org.apache.hadoop.fs.FileSystem`, the same
  *    API real Iceberg's `HadoopTableOperations` uses. The FileSystem
  *    handle is resolved lazily PER JVM from the path URI (never
  *    serialized, exactly like Spark's own parquet IO).
  *
  * Routing is by path shape ([[StateIO.forPath]]): a `scheme://` prefix
  * selects Hadoop, anything else Nio — so a user pointing `--state` at
  * `hdfs://nn/crawl/run1` gets cluster-correct state with no code change,
  * and every existing local-path test exercises the same call graph.
  *
  * Atomicity contract: [[StateIO.writeAtomic]] is temp-file + rename.
  * Nio renames with `ATOMIC_MOVE` (POSIX atomic). Hadoop renames after
  * deleting an existing target (HDFS `rename` does not overwrite) — the
  * same delete-then-rename protocol Iceberg's HadoopTableOperations uses
  * for `version-hint.text`; the hint read path tolerates the missing-file
  * window by treating absence as "no snapshot"/fall-back-to-rebuild, and
  * the COMMIT files (`v{N}.json`) are write-once per version, where
  * rename-without-overwrite IS atomic publication.
  */
trait StateIO extends Serializable {
  def exists(path: String): Boolean
  /** Bytes of `path`; null when missing (a missing version hint means
    * "no snapshot", not a failure). */
  def readBytesIfExists(path: String): Array[Byte]
  def readBytes(path: String): Array[Byte] = {
    val b = readBytesIfExists(path)
    if (b == null) throw new java.io.FileNotFoundException(path)
    b
  }
  /** Publish `bytes` at `path` via temp + rename (see class doc). */
  def writeAtomic(path: String, bytes: Array[Byte]): Unit
  def mkdirs(dir: String): Unit
  /** File/dir names directly under `dir`; empty when `dir` is missing. */
  def listNames(dir: String): Seq[String]
  def deleteIfExists(path: String): Unit
  /** Recursive delete; no-op when missing, never throws (cleanup path). */
  def deleteRecursive(path: String): Unit
}

object StateIO {

  /** `scheme://...` → Hadoop FileSystem; plain local path → java.nio.
    * Both impls are stateless singletons, safe in task closures. */
  def forPath(path: String): StateIO =
    if (hasScheme(path)) Hadoop else Nio

  private def hasScheme(path: String): Boolean = {
    // a URI scheme per RFC 3986 (alpha followed by alnum/+/-/.) then "://"
    // (i > 0 guards charAt(0): an empty/scheme-less path routes to Nio)
    val i = path.indexOf("://")
    i > 0 && path.charAt(0).isLetter && path.substring(0, i).forall(c =>
      c.isLetterOrDigit || c == '+' || c == '-' || c == '.')
  }

  /** Local-filesystem impl — the previous direct-java.nio behavior. */
  case object Nio extends StateIO {
    def exists(path: String): Boolean = Files.exists(Paths.get(path))
    def readBytesIfExists(path: String): Array[Byte] = {
      val p = Paths.get(path)
      if (Files.exists(p)) Files.readAllBytes(p) else null
    }
    def writeAtomic(path: String, bytes: Array[Byte]): Unit = {
      val p = Paths.get(path)
      Files.createDirectories(p.getParent)
      val tmp = p.getParent.resolve(
        s".${p.getFileName}.${java.util.UUID.randomUUID.toString.take(8)}.tmp")
      Files.write(tmp, bytes)
      Files.move(tmp, p,
        StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    }
    def mkdirs(dir: String): Unit = { Files.createDirectories(Paths.get(dir)); () }
    def listNames(dir: String): Seq[String] = {
      val p = Paths.get(dir)
      if (!Files.exists(p)) Nil
      else {
        val s = Files.list(p)
        try s.iterator().asScala.map(_.getFileName.toString).toVector
        finally s.close()
      }
    }
    def deleteIfExists(path: String): Unit = {
      Files.deleteIfExists(Paths.get(path)); ()
    }
    def deleteRecursive(path: String): Unit = scala.util.Try {
      val p = Paths.get(path)
      if (Files.exists(p))
        Files.walk(p).sorted(java.util.Comparator.reverseOrder())
          .forEach(f => { Files.deleteIfExists(f); () })
    }
  }

  /** Shared-storage impl over `org.apache.hadoop.fs.FileSystem` — the
    * production cluster path (HDFS, S3A, or `file://` for the seam test).
    * FileSystem.get caches per (scheme, authority) inside the JVM, so
    * per-call resolution costs a map lookup. */
  case object Hadoop extends StateIO {
    import org.apache.hadoop.fs.{FileSystem, Path => HPath}

    // Executors resolve their own FileSystem from a JVM-local Hadoop
    // config; nothing non-serializable is captured. The config is built
    // ONCE per JVM and overlays `spark.hadoop.*` from the local SparkConf
    // (SparkEnv exists on driver and executors alike) — the standard
    // mechanism jobs use to carry s3a credentials/endpoints, which a bare
    // `new Configuration()` (classpath XMLs only) would silently drop.
    @transient private lazy val conf: org.apache.hadoop.conf.Configuration = {
      val c = new org.apache.hadoop.conf.Configuration()
      val env = org.apache.spark.SparkEnv.get
      if (env != null) env.conf.getAll.foreach { case (k, v) =>
        if (k.startsWith("spark.hadoop."))
          c.set(k.stripPrefix("spark.hadoop."), v)
      }
      c
    }
    private def fs(p: HPath): FileSystem = p.getFileSystem(conf)

    def exists(path: String): Boolean = {
      val p = new HPath(path); fs(p).exists(p)
    }
    def readBytesIfExists(path: String): Array[Byte] = {
      val p = new HPath(path)
      val f = fs(p)
      if (!f.exists(p)) null
      else {
        val in = f.open(p)
        try {
          val out = new java.io.ByteArrayOutputStream()
          val buf = new Array[Byte](64 * 1024)
          var n = in.read(buf)
          while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
          out.toByteArray
        } finally in.close()
      }
    }
    def writeAtomic(path: String, bytes: Array[Byte]): Unit = {
      val p = new HPath(path)
      val f = fs(p)
      val tmp = new HPath(p.getParent,
        s".${p.getName}.${java.util.UUID.randomUUID.toString.take(8)}.tmp")
      val out = f.create(tmp, true)
      try out.write(bytes) finally out.close()
      // Prefer FileContext rename with OVERWRITE — atomic on HDFS and the
      // local fs, so readers never observe a missing version-hint. Fall
      // back to delete-then-rename (the HadoopTableOperations protocol,
      // see class doc) on stores with no AbstractFileSystem binding
      // (e.g. bare s3a); there the hint has a missing-file window, which
      // readers must treat as transient — durable decisions pin a
      // version (v{N}.json files are write-once).
      try {
        org.apache.hadoop.fs.FileContext.getFileContext(p.toUri, conf)
          .rename(tmp, p, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
      } catch {
        case _: org.apache.hadoop.fs.UnsupportedFileSystemException =>
          if (f.exists(p)) f.delete(p, false)
          if (!f.rename(tmp, p))
            throw new java.io.IOException(s"atomic publish failed: $tmp -> $p")
      }
    }
    def mkdirs(dir: String): Unit = {
      val p = new HPath(dir); fs(p).mkdirs(p); ()
    }
    def listNames(dir: String): Seq[String] = {
      val p = new HPath(dir)
      val f = fs(p)
      if (!f.exists(p)) Nil
      else f.listStatus(p).toSeq.map(_.getPath.getName)
    }
    def deleteIfExists(path: String): Unit = {
      val p = new HPath(path)
      val f = fs(p)
      if (f.exists(p)) { f.delete(p, false); () }
    }
    def deleteRecursive(path: String): Unit = scala.util.Try {
      val p = new HPath(path)
      val f = fs(p)
      if (f.exists(p)) { f.delete(p, true); () }
    }
  }
}
