package graft.perfbench

import graft.core.DedupeSettings
import graft.engine.{DedupeEngine, IndexStats, MapRow}
import java.security.MessageDigest
import java.util.Base64

/** Correctness checks computed apart from the program: SHA-256 from the
  * JDK, expected bytes from the benchmark's own model of what it wrote,
  * chunk-size limits from the settings contract. Each check returns the
  * problems it found; an empty result is a pass. */
object Checks {

  def sha256Key(data: Array[Byte], off: Int, len: Int): String = {
    val md = MessageDigest.getInstance("SHA-256")
    md.update(data, off, len)
    Base64.getUrlEncoder.withoutPadding.encodeToString(md.digest())
  }

  /** DedupeSettings' size contract: a content boundary never fires before
    * `minChunkSize`; the md5-window rule steps `shiftCount` bytes at a
    * time, so its forced cut lands in [max, max + shift); the gear rule
    * cuts at `maxChunkSize` exactly. Only an object's last chunk may be
    * shorter. */
  def chunkLenOk(s: DedupeSettings, len: Int, last: Boolean): Boolean = {
    val hi = if (s.profile == DedupeSettings.GearProfile) s.maxChunkSize
      else s.maxChunkSize + s.shiftCount - 1
    len >= 1 && len <= hi && (last || len >= s.minChunkSize)
  }

  /** The object's map rows must tile [0, data.length) in address order,
    * with positions 0..n-1, lengths within the size contract, and every
    * chunk key equal to SHA-256 of the covered bytes. */
  def checkMap(key: String, rows: Seq[MapRow], data: Array[Byte], s: DedupeSettings): Seq[String] = {
    val sorted = rows.sortBy(_.chunkAddress)
    val errs = Seq.newBuilder[String]
    var next = 0L
    sorted.zipWithIndex.foreach { case (r, i) =>
      if (r.objectKey != key) errs += s"$key: map row of ${r.objectKey}"
      if (r.chunkAddress != next) errs += s"$key: gap/overlap at ${r.chunkAddress} (expected $next)"
      if (r.chunkPosition != i) errs += s"$key: position ${r.chunkPosition} at index $i"
      if (!chunkLenOk(s, r.chunkLength, i == sorted.size - 1))
        errs += s"$key: chunk length ${r.chunkLength} outside the settings contract"
      val end = r.chunkAddress + r.chunkLength
      if (end <= data.length &&
          r.chunkKey != sha256Key(data, r.chunkAddress.toInt, r.chunkLength))
        errs += s"$key: chunk at ${r.chunkAddress} is not keyed by SHA-256 of its bytes"
      next = end
    }
    if (next != data.length) errs += s"$key: map covers $next of ${data.length} bytes"
    errs.result()
  }

  /** Stats against the model: object count and logical bytes exactly;
    * physical bytes within (0, logical]. */
  def checkStats(st: IndexStats, model: collection.Map[String, Array[Byte]]): Seq[String] = {
    val logical = model.valuesIterator.map(_.length.toLong).sum
    val errs = Seq.newBuilder[String]
    if (st.objectCount != model.size) errs += s"stats: ${st.objectCount} objects, model has ${model.size}"
    if (st.logicalBytes != logical) errs += s"stats: ${st.logicalBytes} logical bytes, model has $logical"
    if (st.physicalBytes <= 0 || st.physicalBytes > logical)
      errs += s"stats: physical ${st.physicalBytes} outside (0, $logical]"
    errs.result()
  }

  /** Whole-index check, run outside the timed window: the objects table
    * holds exactly the model's keys and lengths; every object's map tiles
    * its bytes; every payload is keyed by SHA-256 of its data; payload
    * keys and live map chunk keys are the same set (no orphan payload, no
    * dangling map row); stats' physical bytes equal the summed distinct
    * payload lengths. */
  def checkIndex(eng: DedupeEngine, model: collection.Map[String, Array[Byte]]): Seq[String] = {
    val errs = Seq.newBuilder[String]
    val objs = eng.objects.collect().map(o => o.objectKey -> o).toMap
    if (objs.keySet != model.keySet)
      errs += s"index: objects table keys differ from the model " +
        s"(${(objs.keySet -- model.keySet).size} extra, ${(model.keySet -- objs.keySet).size} missing)"
    val maps = eng.objmap.collect().toSeq.groupBy(_.objectKey)
    for ((k, data) <- model) {
      objs.get(k).foreach { o =>
        if (o.originalLength != data.length) errs += s"$k: originalLength ${o.originalLength} != ${data.length}"
        if (o.chunkCount != maps.get(k).map(_.size).getOrElse(0)) errs += s"$k: chunkCount ${o.chunkCount} != map rows"
      }
      errs ++= checkMap(k, maps.getOrElse(k, Nil), data, eng.settings)
    }
    val payloads = eng.payloads.collect()
    val payloadKeys = payloads.map(_.chunkKey)
    if (payloadKeys.distinct.length != payloadKeys.length) errs += "index: duplicate payload rows"
    payloads.foreach { p =>
      if (p.chunkKey != sha256Key(p.data, 0, p.data.length))
        errs += s"payload ${p.chunkKey} is not keyed by SHA-256 of its data"
    }
    val mapKeys = maps.valuesIterator.flatten.map(_.chunkKey).toSet
    val orphans = payloadKeys.toSet -- mapKeys
    val dangling = mapKeys -- payloadKeys.toSet
    if (orphans.nonEmpty) errs += s"index: ${orphans.size} payloads referenced by no live map row"
    if (dangling.nonEmpty) errs += s"index: ${dangling.size} map chunk keys with no payload"
    val st = eng.indexStats()
    errs ++= checkStats(st, model)
    val physical = payloads.groupBy(_.chunkKey).valuesIterator.map(_.head.data.length.toLong).sum
    if (st.physicalBytes != physical) errs += s"stats: physical ${st.physicalBytes} != distinct payload bytes $physical"
    errs.result()
  }
}
