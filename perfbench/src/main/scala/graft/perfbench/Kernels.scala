package graft.perfbench

import graft.core.{Chunker, DedupeSettings, GearChunker}
import java.security.MessageDigest

/** Single-core ceilings of the chunking kernels, timed on the driver
  * thread over the workload's own objects (one call per object, as the
  * engine makes them). The best of three passes is the ceiling. */
object Kernels {
  private val Reps = 3
  private val MiB = 1024.0 * 1024.0

  /** Objects from the front of `objs` until `cap` bytes. */
  private def take(objs: Seq[Array[Byte]], cap: Long): Seq[Array[Byte]] = {
    var total = 0L
    objs.takeWhile { o => val keep = total < cap; total += o.length; keep }
  }

  private def mbps(objs: Seq[Array[Byte]])(f: Array[Byte] => Unit): Double = {
    val bytes = objs.iterator.map(_.length.toLong).sum
    (0 until Reps).map { _ =>
      val t0 = System.nanoTime()
      objs.foreach(f)
      bytes / MiB / ((System.nanoTime() - t0) / 1e9)
    }.max
  }

  def measure(objs: Seq[Array[Byte]], s: DedupeSettings): Map[String, Double] = {
    val md5 = s.copy(profile = DedupeSettings.Md5Profile)
    val sample = take(objs, 16L << 20)
    // the md5-window scan runs at ~13 MB/s; a smaller sample keeps it short
    val md5Sample = take(objs, 4L << 20)
    var chunks = 0L
    val cwd = mbps(sample) { o => chunks += s.chunkWithData(o).size }
    val sampleMiB = sample.iterator.map(_.length.toLong).sum / MiB
    Map(
      "core.md5_scan_MBps" -> mbps(md5Sample)(o => Chunker.boundaries(o, md5)),
      "core.gear_scan_MBps" -> mbps(sample)(o =>
        GearChunker.boundaries(o, s.minChunkSize, s.maxChunkSize, s.gearMaskBits)),
      "core.sha256_MBps" -> mbps(sample) { o =>
        val md = MessageDigest.getInstance("SHA-256")
        md.update(o)
        md.digest()
      },
      "core.chunk_with_data_MBps" -> cwd,
      "core.chunks_per_MiB" -> chunks / Reps / sampleMiB)
  }
}
