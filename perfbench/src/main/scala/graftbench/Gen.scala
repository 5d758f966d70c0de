package graftbench

import java.nio.file.{Files, Path}
import java.sql.Timestamp

import scala.util.Random

import org.apache.spark.sql.{SaveMode, SparkSession}

/** The benchmark's own seeded generators: the query-suite tables, the
  * store corpus, and the serving request stream. The same seed gives
  * the same bytes.
  */
object Gen {

  // ------------------------------------------------------------ suite tables

  /** The ten suite tables at the 0.01 scale (60k lineitem rows), one
    * parquet file each, in the shapes the query registry reads. Returns
    * the share of documents planted as near-dups (an earlier text plus
    * a trailing " dup").
    */
  def suiteTables(spark: SparkSession, dir: String, seed: Long): Double = {
    import spark.implicits._
    val r = new Random(seed)
    val nCust = 1500; val nOrders = 15000; val nPart = 2000; val nSupp = 100
    val day = 86400000L
    val t1995 = Timestamp.valueOf("1995-01-01 00:00:00").getTime
    def money(lo: Double, hi: Double) = math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0
    def write(name: String, df: org.apache.spark.sql.DataFrame): Unit =
      df.coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$dir/$name.parquet")

    val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    write("region", regions.zipWithIndex.map { case (n, i) => (i, n) }.toDF("r_regionkey", "r_name"))
    write("nation", (0 until 25).map(i => (i, s"NATION_$i", i % 5))
      .toDF("n_nationkey", "n_name", "n_regionkey"))
    val segs = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    write("customer", (0 until nCust).map(i => (i.toLong, f"Customer#$i%09d", r.nextInt(25),
        money(-999.99, 9999.99), segs(r.nextInt(5))))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"))
    write("supplier", (0 until nSupp).map(i => (i.toLong, f"Supplier#$i%09d", r.nextInt(25),
        money(-999.99, 9999.99)))
      .toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal"))
    val adj = Array("blue", "cold", "hot", "large", "new", "red", "small", "old")
    val noun = Array("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
    val types = Array("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
    write("part", (0 until nPart).map(i => (i.toLong, s"${adj(r.nextInt(8))} ${noun(r.nextInt(8))}",
        s"Brand#${1 + r.nextInt(25)}", types(r.nextInt(6)), 1 + r.nextInt(50),
        900.0 + (i % 1000) / 10.0))
      .toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"))
    val prio = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val odays = 2404
    write("orders", (0 until nOrders).map(i => (i.toLong, r.nextInt(nCust).toLong,
        "FOP".charAt(r.nextInt(3)).toString, money(1000, 500000),
        new Timestamp(t1995 + r.nextInt(odays) * day), prio(r.nextInt(5))))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
            "o_orderpriority"))
    val lines = (0 until 60000).map { _ =>
      (r.nextInt(nOrders).toLong, r.nextInt(nPart).toLong, r.nextInt(nSupp).toLong,
       1 + r.nextInt(7), (1 + r.nextInt(50)).toDouble, money(900, 105000),
       r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
       "ANR".charAt(r.nextInt(3)).toString, "FO".charAt(r.nextInt(2)).toString,
       new Timestamp(t1995 + 1 + r.nextInt(2499) * day))
    }
    write("lineitem", lines.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
      "l_quantity", "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
      "l_linestatus", "l_shipdate"))
    val etypes = Array("click", "error", "purchase", "signup", "view")
    val t2024 = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    var ts = t2024
    write("events", (0 until 10000).map { i =>
      ts += 1 + r.nextInt(518000)
      (i.toLong, new Timestamp(ts), r.nextInt(150).toLong, etypes(r.nextInt(5)),
       money(0.01, 490), s"""{"k": ${r.nextInt(100)}}""")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val words = Array("a", "agg", "batch", "big", "column", "customer", "data", "fast",
      "filter", "group", "hash", "join", "key", "line", "merge", "order", "part", "query",
      "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the", "value",
      "vector", "window")
    val langs = Array("en", "en", "en", "en", "zh", "es", "de", "fr")
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    var dups = 0
    (0 until 500).foreach { i =>
      texts += (if (i > 10 && r.nextInt(20) == 0) {
                  dups += 1
                  texts(r.nextInt(i)) + " dup" * (1 + r.nextInt(2))
                } else Seq.fill(10 + r.nextInt(90))(words(r.nextInt(words.length))).mkString(" "))
    }
    write("documents", texts.zipWithIndex.map { case (t, i) =>
      (i.toLong, t, langs(r.nextInt(langs.length)), s"src${i % 20}", t.length.toLong)
    }.toSeq.toDF("doc_id", "text", "lang", "source", "n_chars"))
    write("embeddings", (0 until 500).map { i =>
      val v = Array.fill(64)(r.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      (i.toLong, v.map(x => (x / n).toFloat).toSeq, r.nextInt(10))
    }.toDF("vec_id", "embedding", "label"))
    dups / 500.0
  }

  // ------------------------------------------------------------ store corpus

  /** One generated upload: file name, bytes, the planted near-dup's
    * base file (if any), and format.
    */
  final case class Upload(name: String, bytes: Array[Byte], text: String,
                          nearDupOf: Option[String], format: String)

  private val topic = Array("spark", "table", "join", "vector", "index", "shard",
    "query", "merge", "filter", "scan", "token", "chunk", "embed", "store", "batch",
    "stream", "cluster", "model", "train", "score", "graph", "label", "window", "cache")

  /** Markdown-shaped text of about 190 words: a title, 3-4 sections with
    * headings, 4-6 sentences each over a 424-word vocabulary (topic words
    * are frequent). At that length a one-word edit keeps the word
    * 3-shingle Jaccard of a near-dup pair near 0.97.
    */
  def docText(r: Random, id: Int): String = {
    def word() = if (r.nextInt(3) == 0) topic(r.nextInt(topic.length)) else s"w${r.nextInt(400)}"
    def sentence() = Seq.fill(8 + r.nextInt(7))(word()).mkString(" ").capitalize + "."
    val sections = 3 + r.nextInt(2)
    s"# Document $id\n\n" + (0 until sections).map { s =>
      s"## Section ${s + 1}\n\n" + Seq.fill(4 + r.nextInt(3))(sentence()).mkString(" ")
    }.mkString("\n\n") + "\n"
  }

  /** A near-duplicate: the base text with one mid-text word replaced
    * by a one-letter word, so the MinHash tier pairs it with its base
    * and keep-one (longest text wins) marks the copy duplicate.
    */
  def nearDup(r: Random, text: String): String = {
    val ws = text.split(" ", -1)
    val i = ws.length / 2 + r.nextInt(math.max(1, ws.length / 4))
    ws(i) = "x"
    ws.mkString(" ")
  }

  /** Shares of each format: 80% .md, 8% .txt, 6% .docx, 6% .pdf. */
  val FormatShares: Seq[(String, Double)] =
    Seq("md" -> 0.80, "txt" -> 0.08, "docx" -> 0.06, "pdf" -> 0.06)

  private def encode(format: String, text: String): Array[Byte] = format match {
    case "docx" => graft.ingest.Office.docxBytes(text)
    case "pdf" => graft.ingest.Pdf.minimalPdf(text)
    case _ => text.getBytes("UTF-8")
  }

  /** `n` uploads: exactly `round(n * share)` of each format and
    * `round(n * dupShare)` planted near-dups of an earlier non-dup upload
    * (same format as the base, so the family converts alike), in seeded
    * order. Names are `<prefix><i>.<ext>`.
    */
  def corpus(r: Random, n: Int, prefix: String, dupShare: Double): IndexedSeq[Upload] = {
    val formats = FormatShares.flatMap { case (f, s) => Seq.fill(math.round(n * s).toInt)(f) }
    val fmt = r.shuffle(formats.padTo(n, "md").take(n)).toIndexedSeq
    // a dup needs an earlier base: plant them past the first tenth
    val dupAt = r.shuffle((n / 10 until n).toVector).take(math.round(n * dupShare).toInt).toSet
    val out = scala.collection.mutable.ArrayBuffer.empty[Upload]
    (0 until n).foreach { i =>
      out += (if (dupAt(i)) {
        val pool = out.filter(_.nearDupOf.isEmpty)
        val b = pool(r.nextInt(pool.size))
        val t = nearDup(r, b.text)
        Upload(s"$prefix$i.${b.format}", encode(b.format, t), t, Some(b.name), b.format)
      } else {
        val t = docText(r, i)
        Upload(s"$prefix$i.${fmt(i)}", encode(fmt(i), t), t, None, fmt(i))
      })
    }
    out.toIndexedSeq
  }

  def writeUploads(dir: Path, us: Seq[Upload]): Unit = {
    Files.createDirectories(dir)
    us.foreach(u => Files.write(dir.resolve(u.name), u.bytes))
  }

  // ------------------------------------------------------------ request stream

  /** Zipf(s = 1.1) draw over ranks 0 until n. */
  def zipf(r: Random, n: Int, s: Double = 1.1): Int = {
    val w = (1 to n).map(k => 1.0 / math.pow(k, s))
    val total = w.sum
    var u = r.nextDouble() * total
    var i = 0
    while (i < n - 1 && u >= w(i)) { u -= w(i); i += 1 }
    i
  }

  /** Query text pool: distinct three-word queries of one shape, a
    * frequent topic word and two rarer vocabulary words.
    */
  def queryPool(r: Random, n: Int): IndexedSeq[String] =
    Iterator.continually(
      s"${topic(r.nextInt(topic.length))} w${r.nextInt(400)} w${r.nextInt(400)}")
      .distinct.take(n).toIndexedSeq
}
