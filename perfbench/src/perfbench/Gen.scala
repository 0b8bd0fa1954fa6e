package perfbench

import java.sql.Date
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Seeded input generation. The program only ever sees what this object
  * produces: the same seed and scale give the same rows, byte for byte.
  */
object Gen {

  final case class Table(name: String, schema: StructType, key: String, rows: IndexedSeq[Row]) {
    /** Derby DDL with the primary key declared. */
    def ddl: String = {
      val cols = schema.fields.map { f =>
        val t = f.dataType match {
          case IntegerType => "INT"
          case LongType    => "BIGINT"
          case DoubleType  => "DOUBLE"
          case DateType    => "DATE"
          case StringType  => "VARCHAR(64)"
          case other       => sys.error(s"no DDL type for $other")
        }
        s"${f.name} $t${if (f.name == key) " NOT NULL" else ""}"
      }
      s"CREATE TABLE $name (${cols.mkString(", ")}, PRIMARY KEY ($key))"
    }
  }

  private def schema(cols: (String, DataType)*): StructType =
    StructType(cols.map { case (n, t) => StructField(n, t, nullable = true) })

  private val Segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val Colors = Array("almond", "azure", "blush", "chiffon", "coral", "cream", "forest",
    "khaki", "lavender", "linen", "navy", "olive", "peru", "plum", "rose", "sienna", "tan")
  private val Epoch = java.time.LocalDate.of(1992, 1, 1)

  private def money(r: SplittableRandom, lo: Int, hi: Int): Double =
    (lo * 100L + r.nextLong((hi - lo) * 100L)) / 100.0
  private def day(r: SplittableRandom): Date = Date.valueOf(Epoch.plusDays(r.nextInt(2400).toLong))

  /** The four TPC-H tables that carry data — `customer`, `part`,
    * `orders`, `lineitem` — at scale factor `sf` (sf0.1 gives 785,000
    * rows). The tiny dimension tables are left out: at benchmark sizes they
    * add only per-table job overhead. `lineitem` has a surrogate key
    * `l_id` whose gaps alternate between dense runs (gap 1) and sparse runs
    * (gap 1..64), so equal-width key ranges hold very unequal row counts
    * and the slice planner has skew to balance. */
  def tpch(seed: Long, sf: Double): Seq[Table] = {
    val r = new SplittableRandom(seed * 7919L + 17L)
    def n(base: Double) = math.max(1, math.round(base * sf).toInt)
    val nSupp = n(10000); val nCust = n(150000); val nPart = n(200000); val nOrd = n(1500000)

    val customer = Table("customer",
      schema("c_custkey" -> LongType, "c_name" -> StringType, "c_nationkey" -> IntegerType,
        "c_acctbal" -> DoubleType, "c_mktsegment" -> StringType),
      "c_custkey", (1 to nCust).map(i =>
        Row(i.toLong, f"Customer#$i%09d", r.nextInt(25), money(r, -999, 9999),
          Segments(r.nextInt(Segments.length)))))
    val part = Table("part",
      schema("p_partkey" -> LongType, "p_name" -> StringType, "p_brand" -> StringType,
        "p_type" -> StringType, "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
      "p_partkey", (1 to nPart).map { i =>
        val name = (0 until 3).map(_ => Colors(r.nextInt(Colors.length))).mkString(" ")
        Row(i.toLong, name, s"Brand#${1 + r.nextInt(5)}${1 + r.nextInt(5)}",
          s"TYPE ${r.nextInt(150)}", 1 + r.nextInt(50), money(r, 900, 2000))
      })
    val orderKeys = (0 until nOrd).map(i => (i / 8) * 32L + (i % 8) + 1L) // TPC-H-style sparse keys
    val orders = Table("orders",
      schema("o_orderkey" -> LongType, "o_custkey" -> LongType, "o_orderstatus" -> StringType,
        "o_totalprice" -> DoubleType, "o_orderdate" -> DateType, "o_orderpriority" -> StringType),
      "o_orderkey", orderKeys.map(k =>
        Row(k, 1L + r.nextInt(nCust), if (r.nextBoolean()) "O" else "F",
          money(r, 800, 500000), day(r), Priorities(r.nextInt(Priorities.length)))))
    // pairs of orders carry k and 8-k lines: exactly 4 lines per order
    val lineCounts = new Array[Int](nOrd)
    var i = 0
    while (i < nOrd) {
      val k = 1 + r.nextInt(7)
      lineCounts(i) = k
      if (i + 1 < nOrd) lineCounts(i + 1) = 8 - k else lineCounts(i) = 4
      i += 2
    }
    var lid = 1000L
    var sparse = false
    var runLeft = 0
    val lines = Vector.newBuilder[Row]
    for (o <- 0 until nOrd; ln <- 1 to lineCounts(o)) {
      if (runLeft == 0) { sparse = r.nextInt(4) == 0; runLeft = 500 + r.nextInt(1500) }
      runLeft -= 1
      lid += (if (sparse) 1 + r.nextInt(64) else 1)
      val qty = 1 + r.nextInt(50)
      lines += Row(lid, orderKeys(o), 1L + r.nextInt(nPart), 1L + r.nextInt(nSupp), ln, qty,
        qty * money(r, 900, 2000), r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
        if (r.nextBoolean()) "R" else "N", if (r.nextBoolean()) "O" else "F", day(r))
    }
    val lineitem = Table("lineitem",
      schema("l_id" -> LongType, "l_orderkey" -> LongType, "l_partkey" -> LongType,
        "l_suppkey" -> LongType, "l_linenumber" -> IntegerType, "l_quantity" -> IntegerType,
        "l_extendedprice" -> DoubleType, "l_discount" -> DoubleType, "l_tax" -> DoubleType,
        "l_returnflag" -> StringType, "l_linestatus" -> StringType, "l_shipdate" -> DateType),
      "l_id", lines.result())
    Seq(customer, part, orders, lineitem)
  }

  /** One in-place change window: rows with keys in [lo, hi) are updated,
    * then the rows keyed `deletes` (all inside the window) are removed. */
  final case class Window(table: String, keyCol: String, lo: Long, hi: Long, deletes: Seq[Long])

  /** About 1% of `lineitem` and of `orders`, in three contiguous
    * primary-key windows per table (one per third of the key range), with
    * a few deletes among the updates. Windows are kept well under the
    * delta repair's full-reload share. */
  def repairWindows(seed: Long, tables: Seq[Table]): Seq[Window] = {
    val r = new SplittableRandom(seed * 104729L + 3L)
    tables.filter(t => t.name == "lineitem" || t.name == "orders").flatMap { t =>
      val keys = t.rows.map(_.getLong(0))
      // the same amount of drift for every seed; the seed places it
      val nWin = 3
      val sz = math.max(1, keys.size / 100 / nWin)
      val band = keys.size / nWin
      (0 until nWin).map { w =>
        val start = w * band + r.nextInt(math.max(1, band - sz))
        val win = keys.slice(start, start + sz)
        val dels = Seq.fill(math.max(1, sz / 50))(win(r.nextInt(win.size))).distinct.sorted
        Window(t.name, t.key, win.head, win.last + 1, dels)
      }
    }
  }

  // ---- curate corpus ------------------------------------------------

  val DocSchema: StructType = schema("doc_id" -> LongType, "text" -> StringType,
    "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType)
  val EvalSchema: StructType = schema("eval_id" -> LongType, "doc_id" -> LongType, "text" -> StringType)

  private val Langs = Array("en", "en", "en", "de", "fr", "es")

  /** A web-crawl-shaped corpus of `nDocs` documents: multi-line docs of
    * Zipf-distributed words with terminal punctuation; exact re-crawls,
    * near-duplicate edits, too-short pages, rule-breaking boilerplate,
    * random-token junk (high LM perplexity) and a few hosts far above the
    * host cap. Returns (documents, eval set); the eval set is a seeded
    * sample of documents whose text is copied verbatim, so every sampled
    * doc_id must be dropped by decontamination. */
  def corpus(seed: Long, nDocs: Int, nEval: Int): (IndexedSeq[Row], IndexedSeq[Row]) = {
    val r = new SplittableRandom(seed * 15485863L + 11L)
    val vocab = (0 until 600).map(i => wordFor(i))
    // Zipf(1.1) cumulative weights over the vocabulary
    val w = vocab.indices.map(i => 1.0 / math.pow(i + 1, 1.1))
    val cum = w.scanLeft(0.0)(_ + _).tail.toArray
    def zipfWord(): String = {
      val u = r.nextDouble() * cum.last
      val j = java.util.Arrays.binarySearch(cum, u)
      vocab(if (j >= 0) j else math.min(vocab.size - 1, -j - 1))
    }
    def sentence(words: Int): String =
      (0 until words).map(_ => zipfWord()).mkString(" ") + "."
    def body(): String =
      (0 until 2 + r.nextInt(4)).map(_ => sentence(8 + r.nextInt(14))).mkString("\n")
    val hosts = 1 + nDocs / 12
    def host(): Int = if (r.nextInt(10) == 0) r.nextInt(3) else r.nextInt(hosts)

    val texts = new Array[String](nDocs)
    val srcs = new Array[String](nDocs)
    val originals = mutable.ArrayBuffer.empty[Int] // copies are made of these only
    for (d <- 0 until nDocs) {
      val kind = r.nextInt(100)
      val h = host()
      srcs(d) = s"https://site$h.example.org/page/${r.nextInt(1000000)}"
      texts(d) =
        if (originals.size > 10 && kind < 5) { // exact re-crawl of an earlier page, same URL
          val src = originals(r.nextInt(originals.size)); srcs(d) = srcs(src); texts(src)
        } else if (originals.size > 10 && kind < 13) { // near-duplicate: a few words edited
          val words = texts(originals(r.nextInt(originals.size))).split(" ")
          (0 until math.max(1, words.length / 15)).foreach { _ =>
            words(r.nextInt(words.length)) = zipfWord()
          }
          words.mkString(" ")
        } else if (kind < 17) sentence(4 + r.nextInt(8)) // below the token gate
        else if (kind < 20) body() + "\nplease enable javascript and cookies to continue."
        else if (kind < 22) body() + "\nlorem ipsum dolor sit amet consectetur elit."
        else if (kind < 25) // junk: uniformly random rare tokens
          (0 until 3).map(_ => (0 until 15).map(_ =>
            wordFor(600 + r.nextInt(5000))).mkString(" ") + ".").mkString("\n")
        else { originals += d; body() }
    }
    val docs = (0 until nDocs).map(d =>
      Row(d.toLong, texts(d), Langs(r.nextInt(Langs.length)), srcs(d), texts(d).length.toLong))
    val picked = r.ints(0, nDocs).distinct().limit(nEval.toLong).toArray.sorted
    val eval = picked.toIndexedSeq.zipWithIndex.map { case (d, i) => Row(i.toLong, d.toLong, texts(d)) }
    (docs, eval)
  }

  /** A pronounceable word for vocabulary index `i` (distinct per i). */
  private def wordFor(i: Int): String = {
    val c = "bcdfghklmnprstvz"; val v = "aeiou"
    val sb = new StringBuilder
    var x = i + 1
    while (x > 0) { sb += c(x % c.length); x /= c.length; sb += v(x % v.length); x /= v.length }
    sb.toString
  }
}
