package graft.functions

import org.apache.spark.unsafe.hash.Murmur3_x86_32
import org.apache.spark.util.sketch.BloomFilter

import java.util.concurrent.atomic.AtomicReferenceArray

/** Approximate-membership probe over 64-bit keys — the face of a seen
  * piece's bloom images, broadcast to executors and probed from generated
  * code (UrlExpressions.MightContainLong), one layer per piece.
  */
trait LongMembership extends Serializable {
  def mightContain(h: Long): Boolean
}

object LongMembership {

  /** Partition-aligned bucket id: EXACTLY the partition
    * `df.repartition(B, col("url_hash"))` assigns (HashPartitioning's
    * partitionIdExpression = `pmod(murmur3_hash(h, seed=42), B)` — the
    * same function as SQL `hash()`). Aligning the image bucket with
    * the physical partitioning is what makes the post-exchange probe
    * memory-bounded: after the candidate exchange, the task for partition
    * p probes ONLY bucket p, so an executor holds O(seen/B) filter bytes
    * per task slot instead of every image. */
  @inline def bucketOf(h: Long, buckets: Int): Int = {
    val m = Murmur3_x86_32.hashLong(h, 42)
    ((m % buckets) + buckets) % buckets
  }

  /** A bucket that never received a row (a piece only writes images for
    * the buckets it has rows in). */
  case object Empty extends LongMembership {
    def mightContain(h: Long): Boolean = false
  }
  final case class Bloom(bf: BloomFilter) extends LongMembership {
    def mightContain(h: Long): Boolean = bf.mightContainLong(h)
  }

  /** OR over layers (driver-side probe face for tests/tools — executors
    * probe the layers as separate broadcasts inside codegen instead). */
  final case class Layered(layers: Seq[LongMembership]) extends LongMembership {
    def mightContain(h: Long): Boolean = layers.exists(_.mightContain(h))
  }

  def deserializeFilter(bytes: Array[Byte]): LongMembership =
    Bloom(BloomFilter.readFrom(new java.io.ByteArrayInputStream(bytes)))

  /** Raw bytes of bucket `b`'s image in image dir `dir`; null when the
    * bucket never received a row. */
  def loadBucketBytes(dir: String, b: Int): Array[Byte] =
    graft.sources.StateIO.forPath(dir).readBytesIfExists(s"$dir/bucket_$b.bin")

  /** The probe face of one seen piece: its per-bucket bloom images in
    * shared storage (the IceLite state root in production), loaded
    * LAZILY per bucket on first probe and cached per JVM instance.
    *
    * This is what keeps the probe O(seen/B)-resident per executor at the
    * 10^10 design point: the broadcast itself carries only the piece's
    * image dir path, and because [[bucketOf]] equals the candidate
    * exchange's partition id, an executor only ever faults in the buckets
    * of the partitions it runs — never every image. (A full-image broadcast is
    * O(seen) ≈ 12 GB per executor at 10^10/0.01 FPP — the round-2 design
    * this replaces.)
    *
    * Reads go through the [[graft.sources.StateIO]] seam against the
    * shared state root — the same storage contract as
    * [[graft.sources.IceLite]]: a URI root (hdfs://, s3a://, file://)
    * runs on the Hadoop FileSystem API, so a multi-executor deployment
    * probes images any node wrote. */
  final case class FileBank(dir: String, buckets: Int) extends LongMembership {

    @transient private lazy val cache = new AtomicReferenceArray[LongMembership](buckets)

    def mightContain(h: Long): Boolean = {
      val b = bucketOf(h, buckets)
      var f = cache.get(b)
      if (f == null) {
        cache.compareAndSet(b, null, load(b))
        f = cache.get(b)
      }
      f.mightContain(h)
    }

    private def load(b: Int): LongMembership = {
      val bytes = loadBucketBytes(dir, b)
      if (bytes == null) Empty else deserializeFilter(bytes)
    }
  }
}
