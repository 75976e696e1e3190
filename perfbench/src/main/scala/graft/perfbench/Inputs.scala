package graft.perfbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom

/** Seeded inputs. Every byte and every key choice is a pure function of
  * the run's `--seed`, so the same seed always replays the same work. */
object Inputs {

  /** SplitMix64 finalizer over a combination of three words: an
    * independent stream seed per (seed, a, b). */
  def mix(seed: Long, a: Long, b: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + a * 0xBF58476D1CE4E5B9L + b * 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Fill `out[off, off+len)` with pseudo-random bytes from `seed`. */
  def fill(out: Array[Byte], off: Int, len: Int, seed: Long): Unit = {
    val r = new SplittableRandom(seed)
    var i = off
    val end = off + len
    while (i < end) {
      val v = r.nextLong()
      var s = 0
      while (s < 8 && i < end) { out(i) = (v >>> (8 * s)).toByte; i += 1; s += 1 }
    }
  }

  val BlockBytes: Int = 64 << 10

  /** A staged file corpus in IngestThroughput's shape: each file is
    * `blocksPerFile` 64 KiB blocks grouped into runs of `runBlocks`;
    * even runs derive from the block index alone (shared by EVERY file),
    * odd runs from (file, block) (unique to their file). The chunker has
    * to realign inside each shared run, so the dedupe ratio measures
    * chunk-granular dedupe, not whole-file dedupe. */
  final case class BulkCorpus(dir: Path, names: IndexedSeq[String],
      fileBytes: Int, sharedBytesPerFile: Int) {
    def logicalBytes: Long = names.size.toLong * fileBytes
    /** Fewest bytes any chunker could store: the shared runs once, plus
      * every file's unique runs. */
    def physicalFloor: Long =
      sharedBytesPerFile + names.size.toLong * (fileBytes - sharedBytesPerFile)
    def ratioBound: Double = logicalBytes.toDouble / physicalFloor
    def bytesOf(i: Int): Array[Byte] = Files.readAllBytes(dir.resolve(names(i)))
  }

  def stageBulk(dir: Path, seed: Long, nFiles: Int, blocksPerFile: Int,
      runBlocks: Int): BulkCorpus = {
    Files.createDirectories(dir)
    val fileBytes = blocksPerFile * BlockBytes
    val shared = (0 until blocksPerFile).count(b => (b / runBlocks) % 2 == 0) * BlockBytes
    val names = (0 until nFiles).map(f => f"obj-$f%04d.bin")
    val buf = new Array[Byte](fileBytes)
    for (f <- 0 until nFiles) {
      for (b <- 0 until blocksPerFile) {
        val s = if ((b / runBlocks) % 2 == 0) mix(seed, -1L, b) else mix(seed, f, b)
        fill(buf, b * BlockBytes, BlockBytes, s)
      }
      Files.write(dir.resolve(names(f)), buf)
    }
    BulkCorpus(dir, names, fileBytes, shared)
  }

  /** Point objects: `PassagesPerObject` passages of `PassageBytes` each,
    * one unique to the object and the rest drawn from a shared pool of
    * `PoolPassages`, in a seeded order. Every object shares chunks with
    * others, and every delete has unique chunks to collect. */
  val PassageBytes: Int = 8 << 10
  val PassagesPerObject: Int = 3
  val PoolPassages: Int = 48

  def pointObject(seed: Long, id: Int): Array[Byte] = {
    val r = new SplittableRandom(mix(seed, 7L, id))
    val uniqueAt = r.nextInt(PassagesPerObject)
    val out = new Array[Byte](PassagesPerObject * PassageBytes)
    for (p <- 0 until PassagesPerObject) {
      val s = if (p == uniqueAt) mix(seed, 8L + id, p) else mix(seed, 5L, r.nextInt(PoolPassages))
      fill(out, p * PassageBytes, PassageBytes, s)
    }
    out
  }

  /** Keys spread over 16 prefixes, so a prefix listing returns a page of
    * a sixteenth of the index. */
  def pointKey(id: Int): String = f"obj/${id % 16}%x/$id%06d"

  /** Zipf(s) sampler over ranks [0, n): inverse CDF by binary search. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x; acc / total }
    }
    def sample(r: SplittableRandom): Int = {
      val u = r.nextDouble()
      var lo = 0
      var hi = n - 1
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (cdf(mid) < u) lo = mid + 1 else hi = mid
      }
      lo
    }
  }
}
