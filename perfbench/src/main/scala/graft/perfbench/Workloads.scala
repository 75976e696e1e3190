package graft.perfbench

import graft.core.DedupeSettings
import graft.engine.{DedupeEngine, MapRow, ObjectListing, ObjectMetadata}
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import scala.collection.mutable

/** The lookup operation's results: every point read that returns metadata
  * rather than bytes, run back to back on one key. */
final case class Lookup(exists: Boolean, absent: Boolean, meta: Option[ObjectMetadata],
    pos: Option[MapRow], page: ObjectListing)

/** A workload: inputs made from the seed, a setup, and a cycle — one
  * fixed sequence of timed operations (one write, read and delete, two
  * lookups and three stats), repeated until the run's seconds are spent.
  * One untimed cycle first warms JIT and codegen caches: the session's
  * first bulk ingest costs about 20 s on a 4-core host, against 4-5 s warm. Every
  * operation's result is checked against the workload's own model after
  * its timer stops. */
abstract class Workload(val spark: SparkSession, val tmp: Path, val seed: Long) {
  def settings: DedupeSettings
  /** Stage inputs and build the index the cycles start from. */
  def setup(): Unit
  def cycle(run: Run, i: Int): Unit
  /** Whole-index checks after the timed window. */
  def finish(): Seq[String]
  /** On-disk bytes under the index directory per live user byte. */
  def storedBytesPerUserByte: Double
  /** Bytes one write operation stores. */
  def userBytesPerWrite: Long
  /** Objects the kernel ceilings are timed on. */
  def kernelObjects: Seq[Array[Byte]]

  // ------------------------------------------------------------ segments

  val Tables: Seq[String] = Seq("objects", "objmap", "payloads")
  val segPeak = mutable.LinkedHashMap(Tables.map(_ -> 0): _*)
  var segLast: Map[String, Int] = Tables.map(_ -> 0).toMap
  var folds = 0

  /** List the index tables' segments after a commit. A table whose
    * segment count fell across a write went through a tiered fold. */
  protected def observe(run: Run, idx: Path, afterWrite: Boolean,
      fresh: Boolean = false): Unit = synchronized {
    val now = Tables.map(t => t -> Segments.count(idx.resolve(t))).toMap
    val before = if (fresh) Tables.map(_ -> 0).toMap else segLast
    if (afterWrite) folds += Tables.count(t => now(t) < before(t))
    Tables.foreach(t => segPeak(t) = math.max(segPeak(t), now(t)))
    segLast = now
    run.annotate(Tables.map(t => t -> now(t)))
  }

  protected def du(p: Path): Long = {
    val s = Files.walk(p)
    try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
    finally s.close()
  }

  // ------------------------------------------------------------ lookups

  protected def lookup(eng: DedupeEngine, key: String, pos: Long, prefix: String, cursor: String): Lookup =
    Lookup(eng.exists(key), eng.exists(key + "~absent"), eng.getMetadata(key),
      eng.mapForPosition(key, pos), eng.listObjects(Some(prefix), Some(cursor)))

  protected def checkLookup(l: Lookup, key: String, pos: Long, prefix: String, cursor: String,
      model: collection.Map[String, Array[Byte]]): Seq[String] = {
    val data = model(key)
    val errs = Seq.newBuilder[String]
    if (!l.exists) errs += s"exists($key) = false for a live key"
    if (l.absent) errs += s"exists($key~absent) = true for a key never written"
    l.meta match {
      case None => errs += s"getMetadata($key) = None for a live key"
      case Some(m) =>
        if (m.obj.originalLength != data.length) errs += s"getMetadata($key): length ${m.obj.originalLength}"
        errs ++= Checks.checkMap(key, m.map, data, settings)
        val lens = m.map.map(r => r.chunkKey -> r.chunkLength).toMap
        if (m.chunks.map(_.chunkKey).toSet != lens.keySet) errs += s"getMetadata($key): chunk list differs from map"
        m.chunks.foreach { c =>
          if (c.refCount < 1 || !lens.get(c.chunkKey).contains(c.length))
            errs += s"getMetadata($key): chunk ${c.chunkKey} refCount ${c.refCount} length ${c.length}"
        }
    }
    l.pos match {
      case None => errs += s"mapForPosition($key, $pos) = None"
      case Some(r) =>
        if (!(r.chunkAddress <= pos && pos < r.chunkAddress + r.chunkLength))
          errs += s"mapForPosition($key, $pos) returned [${r.chunkAddress}, +${r.chunkLength})"
        else if (r.chunkKey != Checks.sha256Key(data, r.chunkAddress.toInt, r.chunkLength))
          errs += s"mapForPosition($key, $pos): chunk key is not SHA-256 of the covered bytes"
    }
    val expected = model.keysIterator.filter(k => k.startsWith(prefix) && k > cursor).toSeq.sorted.take(100)
    val got = l.page.objects.map(_.objectKey)
    if (got != expected) errs += s"listObjects($prefix, $cursor): ${got.size} keys, expected ${expected.size}"
    l.page.objects.foreach { o =>
      if (model.get(o.objectKey).exists(_.length != o.originalLength))
        errs += s"listObjects: ${o.objectKey} length ${o.originalLength}"
    }
    val next = if (expected.size == 100) Some(expected.last) else None
    if (l.page.nextStartAfterKey != next) errs += s"listObjects($prefix, $cursor): cursor ${l.page.nextStartAfterKey}"
    errs.result()
  }
}

/** Bulk round trip under the gear chunker: each cycle ingests the staged
  * corpus into a fresh index, then stats, export, one lookup and one
  * delete with garbage collection. */
final class IngestGear(spark: SparkSession, tmp: Path, seed: Long)
    extends Workload(spark, tmp, seed) {
  val settings: DedupeSettings = DedupeSettings(profile = DedupeSettings.GearProfile)
  val NFiles = 4
  val BlocksPerFile = 32
  val RunBlocks = 8

  private var corpus: Inputs.BulkCorpus = _
  private val rnd = new SplittableRandom(Inputs.mix(seed, 11L, 0L))
  private val stored = mutable.ArrayBuffer.empty[Double]
  private var last: Option[(DedupeEngine, Path, Map[String, Array[Byte]])] = None

  def setup(): Unit = {
    corpus = Inputs.stageBulk(tmp.resolve("corpus"), seed, NFiles, BlocksPerFile, RunBlocks)
  }

  def cycle(run: Run, i: Int): Unit = {
    val c = corpus
    val model = c.names.indices.map(j => c.names(j) -> c.bytesOf(j)).toMap
    val idx = tmp.resolve(s"idx-$i")
    val out = tmp.resolve(s"out-$i")
    val eng = DedupeEngine.create(spark, idx.toString, settings)
    run.op("write")(eng.ingestDirectory(c.dir.toString)).foreach { _ =>
      observe(run, idx, afterWrite = true, fresh = true)
      if (i >= 0) stored += du(idx).toDouble / c.logicalBytes
    }
    def stats(): Unit = run.op("stats")(eng.indexStats()).foreach { st =>
      run.check(Checks.checkStats(st, model))
      if (!(st.ratioX > 1.0)) run.check(Seq(s"dedupe ratio ${st.ratioX} is not above 1"))
      if (st.physicalBytes < c.physicalFloor)
        run.check(Seq(s"physical ${st.physicalBytes} below the corpus floor ${c.physicalFloor} " +
          s"(ratio ${st.ratioX} above the bound ${c.ratioBound})"))
    }
    def lookupOne(): String = {
      val key = c.names(rnd.nextInt(c.names.size))
      val pos = rnd.nextInt(c.fileBytes).toLong
      val cursor = c.names(rnd.nextInt(c.names.size))
      run.op("lookup")(lookup(eng, key, pos, "obj-00", cursor))
        .foreach(l => run.check(checkLookup(l, key, pos, "obj-00", cursor, model)))
      key
    }
    stats()
    run.op("read")(eng.exportAll(out.toString)).foreach { n =>
      if (n != c.names.size) run.check(Seq(s"exportAll wrote $n of ${c.names.size} objects"))
      model.foreach { case (k, bytes) =>
        val f = out.resolve(k)
        if (!Files.exists(f) || !java.util.Arrays.equals(Files.readAllBytes(f), bytes))
          run.check(Seq(s"exported $k differs from the staged file"))
      }
    }
    lookupOne()
    stats()
    val key = lookupOne()
    stats()
    run.op("delete")(eng.delete(key)).foreach { gc =>
      if (gc.isEmpty) run.check(Seq(s"delete($key) collected no chunks, yet its unique runs are stored once"))
      observe(run, idx, afterWrite = false)
    }
    graft.core.FsUtil.deleteRecursively(out)
    last.foreach { case (_, p, _) => graft.core.FsUtil.deleteRecursively(p) }
    last = Some((eng, idx, model - key))
  }

  def finish(): Seq[String] =
    last.toSeq.flatMap { case (eng, _, model) => Checks.checkIndex(eng, model) }

  def storedBytesPerUserByte: Double = Stats.median(stored)
  def userBytesPerWrite: Long = corpus.logicalBytes
  def kernelObjects: Seq[Array[Byte]] = corpus.names.indices.map(corpus.bytesOf)
}

/** Point operations on one long-lived index of small objects that share
  * chunks, under the reference's md5-window chunker. One client runs a
  * closed loop; each cycle writes a new key, looks up and reads
  * Zipf-skewed keys, takes stats, and deletes a uniformly chosen key
  * (whose unique chunks are garbage-collected). The new key takes the
  * deleted key's popularity rank, so the live key count stays fixed. */
final class PointMixed(spark: SparkSession, tmp: Path, seed: Long)
    extends Workload(spark, tmp, seed) {
  val settings: DedupeSettings = DedupeSettings(1024, 8192, 32, 1, DedupeSettings.Md5Profile)
  val NObjects = 500
  val ZipfS = 1.1

  private val rnd = new SplittableRandom(Inputs.mix(seed, 13L, 0L))
  private val zipf = new Inputs.Zipf(NObjects, ZipfS)
  private val model = mutable.HashMap.empty[String, Array[Byte]]
  /** Live keys by popularity rank. */
  private val slots = new Array[String](NObjects)
  /** Ids below this seed the index; writes count up from it. */
  private var nextId = NObjects
  private val idx = tmp.resolve("index")
  private var eng: DedupeEngine = _

  def setup(): Unit = {
    val objs = (0 until NObjects).map(id => Inputs.pointKey(id) -> Inputs.pointObject(seed, id))
    model ++= objs
    // popularity ranks are a seeded shuffle of the keys, so hot keys
    // spread over every listing prefix
    val order = objs.map(_._1).toArray
    for (i <- order.indices.reverse) {
      val j = rnd.nextInt(i + 1)
      val t = order(i); order(i) = order(j); order(j) = t
    }
    order.copyToArray(slots)
    // staged as files and ingested in bulk, the engine's scale path
    val staged = tmp.resolve("staged")
    objs.foreach { case (k, bytes) =>
      val f = staged.resolve(k)
      Files.createDirectories(f.getParent)
      Files.write(f, bytes)
    }
    eng = DedupeEngine.create(spark, idx.toString, settings)
    eng.ingestDirectory(staged.toString)
    graft.core.FsUtil.deleteRecursively(staged)
    segLast = Tables.map(t => t -> Segments.count(idx.resolve(t))).toMap
    Tables.foreach(t => segPeak(t) = segLast(t))
  }

  def cycle(run: Run, i: Int): Unit = {
    val id = nextId
    nextId += 1
    val key = Inputs.pointKey(id)
    val data = Inputs.pointObject(seed, id)
    val wrote = run.op("write")(eng.write(key, data)).isDefined
    if (wrote) {
      model(key) = data
      observe(run, idx, afterWrite = true)
    }
    def lookupOne(): Unit = {
      val k = slots(zipf.sample(rnd))
      val pos = rnd.nextInt(model(k).length).toLong
      val prefix = k.substring(0, k.lastIndexOf('/') + 1)
      val cursor = prefix + f"${rnd.nextInt(nextId)}%06d"
      run.op("lookup")(lookup(eng, k, pos, prefix, cursor))
        .foreach(l => run.check(checkLookup(l, k, pos, prefix, cursor, model)))
    }
    def stats(): Unit =
      run.op("stats")(eng.indexStats()).foreach(st => run.check(Checks.checkStats(st, model)))

    lookupOne()
    stats()
    val g = slots(zipf.sample(rnd))
    run.op("read")(eng.get(g)).foreach { got =>
      if (!got.exists(java.util.Arrays.equals(_, model(g)))) run.check(Seq(s"get($g) differs from the bytes written"))
    }
    stats()
    lookupOne()
    stats()

    val d = rnd.nextInt(NObjects)
    val victim = slots(d)
    run.op("delete")(eng.delete(victim)).foreach { gc =>
      model -= victim
      if (gc.isEmpty) run.check(Seq(s"delete($victim) collected no chunks, yet it held a unique passage"))
      observe(run, idx, afterWrite = false)
    }
    if (wrote) slots(d) = key
  }

  def finish(): Seq[String] = Checks.checkIndex(eng, model)

  def storedBytesPerUserByte: Double =
    du(idx).toDouble / model.valuesIterator.map(_.length.toLong).sum
  def userBytesPerWrite: Long = Inputs.PassagesPerObject.toLong * Inputs.PassageBytes
  def kernelObjects: Seq[Array[Byte]] = model.values.toSeq
}
