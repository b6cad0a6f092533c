package iiotbench

import java.io.{BufferedOutputStream, File, FileOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.sql.Timestamp

import scala.collection.mutable
import scala.util.Random

/** Seeded input generators. The engine only ever sees what these return;
  * the same seed gives byte-identical inputs and a digest to prove it.
  */
object Digest {
  def hex(md: MessageDigest): String = md.digest().map(b => f"${b & 0xff}%02x").mkString
  def of(parts: Iterator[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    parts.foreach { p => md.update(p.getBytes(UTF_8)); md.update(0.toByte) }
    hex(md)
  }
}

/** Appends fixed-point decimals without `String.format` (the hot loop of
  * a few million CSV fields).
  */
object Fmt {
  private val pow10 = Array(1L, 10L, 100L, 1000L, 10000L, 100000L, 1000000L)
  def fixed(sb: java.lang.StringBuilder, v: Double, dec: Int): Unit = {
    val r = math.round(math.abs(v) * pow10(dec))
    if (v < 0 && r != 0) sb.append('-')
    sb.append(r / pow10(dec)).append('.')
    val frac = (r % pow10(dec)).toString
    var i = frac.length
    while (i < dec) { sb.append('0'); i += 1 }
    sb.append(frac)
  }
}

// ---------------------------------------------------------------- iiot_batch

/** Raw KBM-style CSVs, one file per machine, plus the planted fault onsets. */
final case class BatchInput(dir: String, machines: Int, periods: Int,
                            onsetPeriod: IndexedSeq[Int], bytes: Long, digest: String) {
  def rowsPerMachine: Int = periods * BatchGen.RawPerPeriod
  def rawRows: Long = machines.toLong * rowsPerMachine
}

object BatchGen {
  val Hz = 800
  val Factor = 8 // 800 Hz -> 100 Hz
  val PeriodRows = 50 // resampled rows per period: half a second
  val RawPerPeriod: Int = Factor * PeriodRows
  val Channels = Seq("vibration-x", "vibration-y", "vibration-z")

  /** Each machine runs healthy, then from a seeded period in its last
    * third fails: amplitude grows and a new spectral line appears.
    */
  def generate(dir: File, seed: Long, machines: Int, periods: Int): BatchInput = {
    dir.mkdirs()
    val md = MessageDigest.getInstance("SHA-256")
    var bytes = 0L
    val onsets = (0 until machines).map { m =>
      val rng = new Random(seed * 7919L + m)
      val lo = periods * 2 / 3
      val onset = lo + rng.nextInt(math.max(1, periods * 85 / 100 - lo))
      val f1 = 2.0 + 2.0 * rng.nextDouble()
      val f2 = 8.0 + 4.0 * rng.nextDouble()
      val ff = 20.0 + 5.0 * rng.nextDouble()
      val ph = Array.fill(6)(2 * math.Pi * rng.nextDouble())
      val out = new BufferedOutputStream(new FileOutputStream(new File(dir, s"m$m.csv")), 1 << 20)
      val sb = new java.lang.StringBuilder(1 << 16)
      sb.append("time,tags,vibration-x,vibration-y,vibration-z\n")
      val n = periods * RawPerPeriod
      val faultLen = (periods - onset).toDouble * RawPerPeriod
      var i = 0
      var stamp = ""
      while (i < n) {
        if (i % Hz == 0) {
          val s = i / Hz
          stamp = f"2024-03-01 ${s / 3600}%02d:${s / 60 % 60}%02d:${s % 60}%02d."
        }
        val t = i.toDouble / Hz
        val g = if (i >= onset * RawPerPeriod) (i - onset * RawPerPeriod) / faultLen else 0.0
        val micros = (i % Hz) * (1000000 / Hz)
        sb.append(stamp)
        val ms = micros.toString
        var pad = ms.length
        while (pad < 6) { sb.append('0'); pad += 1 }
        sb.append(ms).append(",machine=m").append(m).append(" temperature=")
        Fmt.fixed(sb, 40.0 + 0.5 * math.sin(t / 30) + 0.05 * rng.nextGaussian() + 3 * g, 2)
        sb.append(" unit=C")
        var c = 0
        while (c < 3) {
          val v = (1 + 2 * g) * (math.sin(2 * math.Pi * f1 * t + ph(c)) +
            0.4 * math.sin(2 * math.Pi * f2 * t + ph(c + 3))) +
            1.5 * g * math.sin(2 * math.Pi * ff * t) + 0.25 * rng.nextGaussian()
          sb.append(',')
          Fmt.fixed(sb, v, 5)
          c += 1
        }
        sb.append('\n')
        if (sb.length > (1 << 16) - 256) {
          val b = sb.toString.getBytes(UTF_8); out.write(b); md.update(b); bytes += b.length
          sb.setLength(0)
        }
        i += 1
      }
      val b = sb.toString.getBytes(UTF_8); out.write(b); md.update(b); bytes += b.length
      out.close()
      onset
    }
    BatchInput(dir.getPath, machines, periods, onsets, bytes, Digest.hex(md))
  }
}

// --------------------------------------------------------------- iiot_stream

/** One sensor event: machine key, per-machine sequence number, value and
  * event time.
  */
final case class Ev(key: String, seq: Long, value: Double, ts: Timestamp)

/** The closed-loop backlog: chunks fed one at a time, with the events the
  * generator made late (older than the watermark) marked.
  */
final case class StreamBacklog(chunks: IndexedSeq[IndexedSeq[Ev]], late: Set[(String, Long)]) {
  def events: Int = chunks.map(_.size).sum
  def digest: String = Digest.of(chunks.iterator.flatten.map(e =>
    s"${e.key},${e.seq},${e.value},${e.ts.getTime}"))
}

object StreamGen {
  val Machines = 64
  val WindowMs = 1000L
  val WatermarkMs = 2000L
  val ChunkMs = 2000L
  val Base = 1709251200000L // 2024-03-01T00:00:00Z
  def key(m: Int): String = f"m$m%02d"

  /** Sensor value of machine `m` at sequence `seq`: a per-machine wave
    * plus noise; `burst` lifts it so some period means cross the threshold.
    */
  def value(rng: Random, m: Int, seq: Long, burst: Boolean): Double =
    math.sin(2 * math.Pi * seq / 37.0 + m) + 0.1 * rng.nextGaussian() + (if (burst) 3.0 else 0.0)

  /** `chunks` chunks of `perMachine` events per machine each. Chunk k
    * spans event time [k, k+1) × ChunkMs; from chunk 1 on, a `lateShare`
    * of events is stamped older than the watermark the previous chunk
    * set, so the period aggregate must drop them. Chunk `chunks-2` carries
    * a burst on the first eight machines.
    */
  def backlog(seed: Long, chunks: Int, perMachine: Int, lateShare: Double,
              withBurst: Boolean = true): StreamBacklog = {
    val rng = new Random(seed * 31L + 17L)
    val seqs = Array.fill(Machines)(0L)
    val late = Set.newBuilder[(String, Long)]
    val out = (0 until chunks).map { k =>
      (0 until perMachine).flatMap { j =>
        (0 until Machines).map { m =>
          val s = seqs(m); seqs(m) += 1
          val burst = withBurst && k == chunks - 2 && m < 8
          val isLate = k > 0 && rng.nextDouble() < lateShare
          val ts =
            if (isLate) { late += ((key(m), s)); Base + k * ChunkMs - WatermarkMs - 1500 - rng.nextInt(500) }
            else Base + k * ChunkMs + j * ChunkMs / perMachine + rng.nextInt(20)
          Ev(key(m), s, value(rng, m, s, burst), new Timestamp(ts))
        }
      }
    }
    StreamBacklog(out, late.result())
  }
}

// -------------------------------------------------------------- corpus_dedup

final case class ProbeBatch(docs: IndexedSeq[(Long, String)], copied: Set[Long],
                            vecs: IndexedSeq[(Long, Array[Double])])

/** The corpus, its vectors, and the truth planted in them. */
final case class Corpus(docs: IndexedSeq[(Long, String)],
                        exactGroups: Seq[Seq[Long]],
                        nearPairs: Seq[(Long, Long)],
                        vecs: IndexedSeq[(Long, Array[Double])],
                        twinPairs: Seq[(Long, Long)],
                        probes: IndexedSeq[ProbeBatch]) {
  def bytes: Long = docs.map(_._2.length.toLong).sum
  def digest: String = Digest.of(
    docs.iterator.map { case (i, t) => s"$i:$t" } ++
      vecs.iterator.map { case (i, v) => s"$i:${v.mkString(",")}" } ++
      probes.iterator.flatMap(p => p.docs.iterator.map { case (i, t) => s"$i:$t" } ++
        p.vecs.iterator.map { case (i, v) => s"$i:${v.mkString(",")}" }))
}

object CorpusGen {
  val Stopwords = Vector("the", "a", "of", "and", "to", "in", "is", "on", "for")
  val Dim = 64
  val Shingle = 3

  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = (1 to n).map(r => 1.0 / math.pow(r, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    def draw(rng: Random): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
      if (i >= 0) i else math.min(-i - 1, n - 1)
    }
  }

  def shingles(text: String): Set[String] = {
    val t = text.split(" +")
    if (t.length < Shingle) Set.empty
    else t.sliding(Shingle).map(_.mkString(" ")).toSet
  }

  def jaccard(a: String, b: String): Double = {
    val (x, y) = (shingles(a), shingles(b))
    val u = (x | y).size
    if (u == 0) 0.0 else (x & y).size.toDouble / u
  }

  /** `n` documents: 4/6 distinct, 1/6 exact copies, 1/6 near copies with
    * three token edits; some carry an email address and some fail the
    * quality filter. Ids are shuffled so copies interleave with sources.
    * `nVec` 64-dim vectors in 40 clusters, a tenth of them exact or
    * scaled twins of another vector. `probes` batches of `probeDocs`
    * documents, a third copied from clean corpus documents.
    */
  def generate(seed: Long, n: Int, nVec: Int, probes: Int, probeDocs: Int): Corpus = {
    val rng = new Random(seed * 104729L + 3L)
    val zipf = new Zipf(4000, 1.1)
    def words(k: Int): Array[String] = Array.fill(k) {
      if (rng.nextDouble() < 0.25) Stopwords(rng.nextInt(Stopwords.size))
      else s"w${zipf.draw(rng)}"
    }
    // kind: 0 clean, 1 email, 2 short, 3 punctuation-heavy
    def fresh(): (String, Int) = {
      val r = rng.nextDouble()
      if (r < 0.03) (words(8 + rng.nextInt(8)).mkString(" "), 2)
      else if (r < 0.05) (words(60).map(_ + "!!").mkString(" "), 3)
      else {
        val w = words(80 + rng.nextInt(80))
        if (r < 0.10) {
          w(rng.nextInt(w.length)) = s"contact user${rng.nextInt(10000)}@mail${rng.nextInt(50)}.com"
          (w.mkString(" "), 1)
        } else (w.mkString(" "), 0)
      }
    }
    val nBase = n - 2 * (n / 6)
    val base = IndexedSeq.fill(nBase)(fresh())
    val exactSrc = IndexedSeq.fill(n / 6)(rng.nextInt(nBase))
    val nearSrc = IndexedSeq.fill(n / 6)(rng.nextInt(nBase))
    val near = nearSrc.map { b =>
      val w = base(b)._1.split(" ")
      (0 until 3).foreach(_ => w(rng.nextInt(w.length)) = s"w${zipf.draw(rng)}")
      w.mkString(" ")
    }
    // slot -> text; slots 0..nBase-1 base, then exact copies, then near copies
    val texts = base.map(_._1) ++ exactSrc.map(base(_)._1) ++ near
    val ids = rng.shuffle((0 until texts.size).map(_.toLong)).toIndexedSeq
    val docs = texts.indices.map(s => (ids(s), texts(s))).sortBy(_._1)
    val exactGroups = exactSrc.indices.groupBy(i => exactSrc(i)).toSeq.map { case (b, cs) =>
      (ids(b) +: cs.map(c => ids(nBase + c))).sorted
    }.sortBy(_.head)
    val nearPairs = nearSrc.indices.map(i => (ids(nearSrc(i)), ids(nBase + n / 6 + i)))
    val cleanBase = (0 until nBase).filter(b => base(b)._2 == 0)

    val centers = Array.fill(40)(unit(Array.fill(Dim)(rng.nextGaussian())))
    def clustered(): Array[Double] = {
      val c = centers(rng.nextInt(centers.length))
      c.map(_ + 0.3 * rng.nextGaussian() / math.sqrt(Dim))
    }
    val nTwin = nVec / 10
    val orig = IndexedSeq.fill(nVec - nTwin)(clustered())
    val twinSrc = IndexedSeq.fill(nTwin)(rng.nextInt(orig.size))
    val twins = twinSrc.zipWithIndex.map { case (s, i) =>
      val scale = 0.5 + 2.5 * rng.nextDouble()
      if (i % 2 == 0) orig(s).clone() else orig(s).map(_ * scale)
    }
    val vIds = rng.shuffle((0 until nVec).map(_.toLong)).toIndexedSeq
    val allVecs = orig ++ twins
    val vecs = allVecs.indices.map(s => (vIds(s), allVecs(s))).sortBy(_._1)
    val twinPairs = twinSrc.indices.map(i => (vIds(twinSrc(i)), vIds(orig.size + i)))

    var nextId = texts.size.toLong
    var nextVec = nVec.toLong
    val probeBatches = (0 until probes).map { _ =>
      val nCopy = probeDocs / 3
      val copies = rng.shuffle(cleanBase).take(nCopy).map(b => base(b)._1)
      val news = IndexedSeq.fill(probeDocs - nCopy) {
        var t = fresh()
        while (t._2 != 0) t = fresh()
        t._1
      }
      val all = rng.shuffle(copies.map((_, true)) ++ news.map((_, false)))
      val withIds = all.map { case (t, c) => nextId += 1; (nextId, t, c) }
      val pv = IndexedSeq.fill(probeDocs)({ nextVec += 1; (nextVec, clustered()) })
      ProbeBatch(withIds.map(x => (x._1, x._2)), withIds.filter(_._3).map(_._1).toSet, pv)
    }
    Corpus(docs, exactGroups, nearPairs, vecs, twinPairs, probeBatches)
  }

  private def unit(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }
}

object Stats {
  /** Union-find components over an edge list. */
  def components(edges: Iterable[(Long, Long)]): mutable.Map[Long, Long] = {
    val parent = mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.toSeq.foreach(find)
    parent
  }
}
