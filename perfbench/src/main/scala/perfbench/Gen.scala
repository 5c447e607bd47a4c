package perfbench

import java.security.MessageDigest
import java.util.SplittableRandom
import scala.collection.mutable

/** Seeded input generators. Everything a workload feeds the library comes
  * from here, computed in the benchmark process and deterministic in the
  * seed: the same seed gives byte-identical inputs, so a run's data never
  * depends on the machine or the order of Spark tasks. */
object Gen {
  def rng(seed: Long, stream: String): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ stream.hashCode.toLong)

  /** SHA-256 of the rows' printed form, as hex: the inputs' identity. */
  def digest(rows: Iterator[Any]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update(r.toString.getBytes("UTF-8")))
    md.digest().map(b => f"$b%02x").mkString
  }

  /** A fixed vocabulary of pseudo-words plus the function words the
    * language heuristics look for; the seed only picks among them. */
  val Vocab: IndexedSeq[String] = {
    val r = new SplittableRandom(7L)
    val letters = "abcdefghijklmnopqrstuvwxyz"
    (0 until 400).map { _ =>
      (0 until 3 + r.nextInt(6)).map(_ => letters(r.nextInt(26))).mkString
    }.distinct
  }
  val Function: Map[String, IndexedSeq[String]] = Map(
    "en" -> IndexedSeq("the", "and", "of", "to", "in", "is"),
    "fr" -> IndexedSeq("le", "les", "des", "est", "dans"),
    "de" -> IndexedSeq("der", "die", "das", "und", "ist"),
    "es" -> IndexedSeq("el", "la", "de", "que", "los"))
  val Langs: IndexedSeq[String] = IndexedSeq("en", "en", "fr", "de", "es")

  /** Zipf-like pick: low ranks are common, so documents share tokens. */
  def word(r: SplittableRandom): String = {
    val u = r.nextDouble()
    Vocab((u * u * u * Vocab.size).toInt)
  }

  def sentence(r: SplittableRandom, lang: String, nTok: Int): String =
    (0 until nTok).map { i =>
      if (i % 4 == 1) Function(lang)(r.nextInt(Function(lang).size))
      else word(r)
    }.mkString(" ")

  def vector(r: SplittableRandom, dim: Int): Array[Float] = {
    val v = Array.fill(dim)(r.nextDouble() * 2 - 1)
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / n).toFloat)
  }

  /** Same seed → same inputs; another seed → other inputs, for every
    * workload's generator. Exits non-zero on failure. */
  def selfTest(): Unit = {
    def ids(seed: Long): Seq[(String, String)] = Seq(
      "dbt_project" -> {
        val s = new DbtGen(seed)
        digest(s.snapshotRows ++ (0 until 3).iterator.map(s.batch))
      },
      "llm_dedup" -> LlmGen(seed).digest,
      "novelty_stream" -> {
        val g = new StreamGen(seed)
        digest(Iterator(g.seedDocs, g.seedVecs.map(_._2.toSeq),
          g.seedKeys) ++ (0 until 3).iterator.map(g.batch))
      })
    val a = ids(1); val b = ids(1); val c = ids(2)
    val bad = a.indices.filter(i => a(i)._2 != b(i)._2 || a(i)._2 == c(i)._2)
    a.zip(c).foreach { case ((n, x), (_, y)) =>
      println(s"[selftest] $n seed1=${x.take(16)} seed2=${y.take(16)}") }
    if (bad.nonEmpty) {
      System.err.println("[selftest] FAILED for " +
        bad.map(a(_)._1).mkString(", "))
      System.exit(1)
    }
    println("[selftest] ok: same seed gives identical inputs, " +
      "another seed gives other inputs")
  }
}

// ---------------------------------------------------------------------
// dbt_project
// ---------------------------------------------------------------------

final case class Customer(key: Long, name: String, nation: Int,
                          acctbal: Double, segment: String, updatedAt: Long)
/** `custkey` is null (None) or points outside the customer table for the
  * planted data-test violations. */
final case class Order(key: Long, custkey: Option[Long], status: String,
                       price: Double, orderDay: Int, priority: String,
                       updatedAt: Long)
final case class Line(orderkey: Long, linenumber: Int, partkey: Long,
                      suppkey: Long, quantity: Double, extprice: Double,
                      discount: Double, tax: Double, returnflag: String,
                      shipDay: Int)
final case class AcctEvent(eventId: Long, userId: Long, ts: Long,
                           value: Double)

/** One incremental batch: every new or updated order with ALL its lines
  * (delete+insert replaces an order's lines), the account events to
  * append, and the ship days whose daily aggregate the batch changes. */
final case class DbtBatch(id: Int, ts: Long, orders: Seq[Order],
                          lines: Seq[Line], events: Seq[AcctEvent],
                          touchedDays: Set[Int], newOrders: Int,
                          updatedOrders: Int, lateOrders: Int)

/** A small star schema over three months, mutated batch by batch. The
  * generator keeps the current state, so every check compares the
  * warehouse against a recompute from the same state. */
final class DbtGen(seed: Long) {
  import DbtGen._
  private val r = Gen.rng(seed, "dbt")
  val customers = mutable.LinkedHashMap.empty[Long, Customer]
  val orders = mutable.LinkedHashMap.empty[Long, Order]
  val lines = mutable.LinkedHashMap.empty[Long, Seq[Line]]
  val events = mutable.ArrayBuffer.empty[AcctEvent]
  private val byMonth = Array.fill(Months)(mutable.ArrayBuffer.empty[Long])
  private val planted = mutable.Set.empty[Long]
  private var nextOrder = 1L
  private var nextCust = Customers + 1L
  private var nextEvent = 1L
  val parts: Seq[(Long, String, String, Int, Double)] =
    (1L to Parts).map(p => (p, s"${Gen.word(r)} ${Gen.word(r)}",
      s"Brand#${1 + r.nextInt(25)}", 1 + r.nextInt(50),
      900.0 + r.nextInt(1100)))
  val suppliers: Seq[(Long, String, Int)] =
    (1L to Suppliers).map(s => (s, f"Supplier#$s%05d", r.nextInt(25)))

  private def newLines(o: Long, day: Int): Seq[Line] =
    (1 to 1 + r.nextInt(7)).map { ln =>
      val q = 1 + r.nextInt(50)
      Line(o, ln, 1 + r.nextInt(Parts), 1 + r.nextInt(Suppliers), q,
        q * (900.0 + r.nextInt(1100)), r.nextInt(11) / 100.0,
        r.nextInt(9) / 100.0, if (r.nextInt(4) == 0) "R" else "N",
        day + 1 + r.nextInt(10))
    }

  private def addOrder(custkey: Option[Long], status: String,
                       month: Int, ts: Long): Order = {
    val k = nextOrder; nextOrder += 1
    val day = month * 30 + r.nextInt(28)
    val ls = newLines(k, day)
    val o = Order(k, custkey, status, ls.map(_.extprice).sum.round / 1.0,
      day, Priorities(r.nextInt(Priorities.size)), ts)
    orders(k) = o; lines(k) = ls; byMonth(month) += k
    o
  }

  private def liveCustomer(): Long = {
    // customer keys are dense apart from hard deletes: retry on a hole
    var k = 1L + r.nextInt((nextCust - 1).toInt)
    while (!customers.contains(k)) k = 1L + r.nextInt((nextCust - 1).toInt)
    k
  }

  for (c <- 1L to Customers)
    customers(c) = Customer(c, f"Customer#$c%06d", r.nextInt(25),
      (r.nextInt(1100000) - 100000) / 100.0,
      Segments(r.nextInt(Segments.size)), BaseTs)
  for (_ <- 0 until Orders)
    addOrder(Some(liveCustomer()), Statuses(r.nextInt(3)),
      r.nextInt(Months), BaseTs)
  // planted data-test violations; never updated by a batch
  for (i <- 0 until PlantedNull)
    planted += addOrder(None, "O", r.nextInt(Months), BaseTs).key
  for (i <- 0 until PlantedStatus)
    planted += addOrder(Some(liveCustomer()), "X", r.nextInt(Months),
      BaseTs).key
  for (i <- 0 until PlantedOrphan)
    planted += addOrder(Some(OrphanBase + i), "F", r.nextInt(Months),
      BaseTs).key
  for (_ <- 0 until Events)
    events += event(Epoch + r.nextInt(Months * 30) * Day + r.nextInt(Day.toInt))

  private def event(ts: Long): AcctEvent = {
    val e = AcctEvent(nextEvent, 1 + r.nextInt(EventUsers), ts,
      (r.nextInt(200000) - 50000) / 100.0)
    nextEvent += 1
    e
  }

  /** The base state's rows, for the input digest. */
  def snapshotRows: Iterator[Any] =
    customers.valuesIterator ++ orders.valuesIterator ++
      lines.valuesIterator.flatten ++ events.iterator

  /** Applies batch `i` to the state and returns it: ~1% new orders and
    * ~1% updated orders, 90% in the most recent month and 10% late into
    * older ones, plus customer changes, new customers and hard deletes. */
  def batch(i: Int): DbtBatch = {
    val ts = BaseTs + (i + 1) * 3600L
    def month(): (Int, Boolean) =
      if (r.nextInt(10) == 0) (r.nextInt(Months - 1), true)
      else (Months - 1, false)
    val touched = mutable.Set.empty[Int]
    var late = 0
    val news = (0 until Orders / 100).map { _ =>
      val (m, isLate) = month()
      if (isLate) late += 1
      addOrder(Some(liveCustomer()), Statuses(r.nextInt(3)), m, ts)
    }
    val updKeys = mutable.LinkedHashSet.empty[Long]
    val fresh = news.map(_.key).toSet
    while (updKeys.size < Orders / 100) {
      val (m, isLate) = month()
      val pool = byMonth(m)
      val k = pool(r.nextInt(pool.size))
      if (!planted(k) && !fresh(k) && !updKeys(k)) {
        updKeys += k
        if (isLate) late += 1
      }
    }
    val upds = updKeys.toSeq.map { k =>
      val o = orders(k)
      lines(k).foreach(l => touched += l.shipDay)
      val ls = newLines(k, o.orderDay)
      val u = o.copy(status = Statuses(r.nextInt(3)),
        price = ls.map(_.extprice).sum.round / 1.0,
        priority = Priorities(r.nextInt(Priorities.size)), updatedAt = ts)
      orders(k) = u; lines(k) = ls
      u
    }
    val changed = news ++ upds
    val ls = changed.flatMap(o => lines(o.key))
    ls.foreach(l => touched += l.shipDay)
    for (_ <- 0 until 5) {
      val k = liveCustomer()
      customers(k) = customers(k).copy(
        acctbal = (r.nextInt(1100000) - 100000) / 100.0,
        segment = Segments(r.nextInt(Segments.size)), updatedAt = ts)
    }
    for (_ <- 0 until 2) customers.remove(liveCustomer())
    for (_ <- 0 until 2) {
      val k = nextCust; nextCust += 1
      customers(k) = Customer(k, f"Customer#$k%06d", r.nextInt(25),
        (r.nextInt(1100000) - 100000) / 100.0,
        Segments(r.nextInt(Segments.size)), ts)
    }
    val evs = (0 until Events / 100).map(_ => event(ts - r.nextInt(3600)))
    events ++= evs
    DbtBatch(i, ts, changed, ls, evs, touched.toSet, news.size, upds.size,
      late)
  }

  /** Violations the data tests must report on the orders model now:
    * (null customer keys, statuses outside F/O/P, customer keys with no
    * live customer). Hard deletes turn live orders into orphans. */
  def expectedViolations: (Long, Long, Long) = {
    val os = orders.values
    (os.count(_.custkey.isEmpty).toLong,
      os.count(o => !Statuses.contains(o.status)).toLong,
      os.count(o => o.custkey.exists(k => !customers.contains(k))).toLong)
  }
}

object DbtGen {
  val Months = 3
  val Customers = 1500
  val Orders = 15000
  val Parts = 2000
  val Suppliers = 100
  val Events = 10000
  val EventUsers = 150
  val PlantedNull = 7
  val PlantedStatus = 5
  val PlantedOrphan = 6
  val OrphanBase = 50000000L
  val Day = 86400L
  /** 2023-01-01T00:00:00Z: day 0 of the order calendar. */
  val Epoch = 1672531200L
  /** 2025-01-01T00:00:00Z: the base state's load time; batch i lands
    * i+1 hours later. */
  val BaseTs = 1735689600L
  val Statuses = IndexedSeq("F", "O", "P")
  val Priorities = IndexedSeq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val Segments = IndexedSeq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
}

// ---------------------------------------------------------------------
// llm_dedup
// ---------------------------------------------------------------------

/** A corpus with a seeded share of planted duplicates: exact copies and
  * near copies (one token changed) of documents, and exact and slightly
  * perturbed copies of embedding vectors. `exactPairs` lists every
  * planted exact document copy as (original id, copy id). */
final case class LlmGen(docs: Seq[(Long, String)],
                        exactPairs: Seq[(Long, Long)],
                        nearPairs: Seq[(Long, Long)],
                        vecs: Seq[(Long, Array[Float])],
                        exactVecPairs: Seq[(Long, Long)],
                        names: Seq[(Long, String)]) {
  def digest: String = Gen.digest(docs.iterator ++ exactPairs ++ nearPairs ++
    vecs.iterator.map { case (i, v) => (i, v.toSeq) } ++ names)
}

object LlmGen {
  val Docs = 2000
  val ExactShare = 0.10
  val NearShare = 0.05
  val Vecs = 1000
  val Dim = 64
  val Names = 100
  val CopyBase = 1000000L

  def apply(seed: Long): LlmGen = {
    val r = Gen.rng(seed, "llm")
    val base = (0L until Docs).map { i =>
      val lang = Gen.Langs(r.nextInt(Gen.Langs.size))
      i -> Gen.sentence(r, lang, 20 + r.nextInt(50))
    }
    val nExact = (Docs * ExactShare).toInt
    val nNear = (Docs * NearShare).toInt
    val picks = pick(r, Docs, nExact + nNear)
    val exact = picks.take(nExact).zipWithIndex.map { case (o, j) =>
      (o.toLong, CopyBase + j) }
    val near = picks.drop(nExact).zipWithIndex.map { case (o, j) =>
      (o.toLong, CopyBase + nExact + j) }
    val copies = exact.map { case (o, c) => c -> base(o.toInt)._2 } ++
      near.map { case (o, c) =>
        val toks = base(o.toInt)._2.split(" ")
        toks(toks.length - 1) = "zq" + Gen.word(r)
        c -> toks.mkString(" ")
      }
    val vb = (0L until Vecs).map(i => i -> Gen.vector(r, Dim))
    val vp = pick(r, Vecs, (Vecs * (ExactShare + NearShare)).toInt)
    val nVecExact = (Vecs * ExactShare).toInt
    val exactVec = vp.take(nVecExact).zipWithIndex.map { case (o, j) =>
      (o.toLong, CopyBase + j) }
    val vcopies = exactVec.map { case (o, c) => c -> vb(o.toInt)._2 } ++
      vp.drop(nVecExact).zipWithIndex.map { case (o, j) =>
        CopyBase + nVecExact + j ->
          vb(o)._2.map(x => x + (r.nextDouble() * 0.02 - 0.01).toFloat)
      }
    val names = (0L until Names).map { i =>
      val n = s"${Gen.word(r)} ${Gen.word(r)} ${Gen.word(r)}"
      if (i % 20 == 19) i -> (n.dropRight(1) + "x") else i -> n
    }
    LlmGen(base ++ copies, exact, near, vb ++ vcopies, exactVec, names)
  }

  /** `k` distinct indices below `n`, in drawing order. */
  def pick(r: SplittableRandom, n: Int, k: Int): Seq[Int] = {
    val out = mutable.LinkedHashSet.empty[Int]
    while (out.size < k) out += r.nextInt(n)
    out.toSeq
  }
}

// ---------------------------------------------------------------------
// novelty_stream
// ---------------------------------------------------------------------

/** One micro-batch on each of the three streams. `keyAdmits` is the
  * closed form of the key stream's admissions: rows whose key no earlier
  * batch and no seed row carried. */
final case class StreamBatch(id: Int, docs: Seq[(Long, String)],
                             vecs: Seq[(Long, Array[Float])],
                             keys: Seq[(Long, String)], keyAdmits: Int) {
  override def toString: String =
    (id, docs, vecs.map { case (i, v) => (i, v.toSeq) }, keys,
      keyAdmits).toString
}

/** Seed corpora for the three indexes, then batches that mix fresh rows
  * with a seeded share of exact and near repeats of earlier rows. */
final class StreamGen(seed: Long) {
  import StreamGen._
  private val r = Gen.rng(seed, "stream")
  private var nextId = 0L
  private def id(): Long = { nextId += 1; nextId }
  private def doc(): String =
    Gen.sentence(r, Gen.Langs(r.nextInt(Gen.Langs.size)), 15 + r.nextInt(30))
  val seedDocs: Seq[(Long, String)] = (0 until SeedRows).map(_ => id() -> doc())
  val seedVecs: Seq[(Long, Array[Float])] =
    (0 until SeedRows).map(_ => id() -> Gen.vector(r, LlmGen.Dim))
  val seedKeys: Seq[(Long, String)] =
    (0 until SeedRows).map(_ => id() -> s"k/${r.nextLong()}")
  private val seenDocs = mutable.ArrayBuffer.empty[String] ++= seedDocs.map(_._2)
  private val seenVecs = mutable.ArrayBuffer.empty[Array[Float]] ++=
    seedVecs.map(_._2)
  private val offeredKeys = mutable.ArrayBuffer.empty[String] ++=
    seedKeys.map(_._2)
  private val seenKeys = mutable.Set.empty[String] ++= seedKeys.map(_._2)

  /** The next batch: per stream, fresh rows, then exact repeats, then
    * near repeats of rows offered earlier. */
  def batch(i: Int): StreamBatch = {
    def kinds[T](fresh: => T, exact: => T, near: => T): Seq[T] =
      (0 until BatchRows).map { _ =>
        val u = r.nextDouble()
        if (u < ExactShare) exact else if (u < ExactShare + NearShare) near
        else fresh
      }
    val docs = kinds(doc(), seenDocs(r.nextInt(seenDocs.size)), {
      val toks = seenDocs(r.nextInt(seenDocs.size)).split(" ")
      toks(toks.length - 1) = "zq" + Gen.word(r)
      toks.mkString(" ")
    }).map(t => id() -> t)
    val vecs = kinds(Gen.vector(r, LlmGen.Dim),
      seenVecs(r.nextInt(seenVecs.size)),
      seenVecs(r.nextInt(seenVecs.size))
        .map(x => x + (r.nextDouble() * 0.002 - 0.001).toFloat))
      .map(v => id() -> v)
    val keys = kinds(s"k/${r.nextLong()}",
      offeredKeys(r.nextInt(offeredKeys.size)),
      s"k/${r.nextLong()}").map(k => id() -> k)
    val admits = keys.count { case (_, k) => !seenKeys(k) }
    seenDocs ++= docs.map(_._2)
    seenVecs ++= vecs.map(_._2)
    offeredKeys ++= keys.map(_._2)
    seenKeys ++= keys.map(_._2)
    StreamBatch(i, docs, vecs, keys, admits)
  }
}

object StreamGen {
  val SeedRows = 2000
  val BatchRows = 100
  val ExactShare = 0.25
  val NearShare = 0.15
}
