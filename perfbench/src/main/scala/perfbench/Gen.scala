package perfbench

import java.sql.Timestamp

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generation. Every table is written with the schema of the
  * engine's input table of the same name (`orders`, `events`, `documents`),
  * so its public functions read it through their usual `sfDir` argument.
  *
  * The seed picks the data, never the amount of work or the injection
  * rates:
  *   - orders keys are one contiguous run starting at a seeded offset, so
  *     every `ClipsTable` modulus rule fires on floor or ceil of n/m rows
  *     and every bucket holds n/32 rows (±1);
  *   - every event is assigned its malformation class by `event_id % 5`
  *     (RepairQueries' own rule) over contiguous ids;
  *   - documents come in fixed blocks of [[DocBlock]]: the last three slots
  *     of each block are one planted near-duplicate cluster, the rest are
  *     background text over the same small vocabulary. */
object Gen {

  final case class Order(key: Long, priority: String, status: String)

  final case class Doc(id: Long, text: String, lang: String)

  /** A planted cluster: a root text and two edited copies of it. */
  final case class Cluster(ids: Seq[Long])

  final case class Docs(docs: IndexedSeq[Doc], clusters: Seq[Cluster])

  final case class Event(id: Long, props: String)

  val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val Statuses = Seq("F", "O", "P")

  /** Contiguous order keys from a seeded offset. The offset is a multiple
    * of the bucket count, so bucket b always starts at key offset + b. */
  def orders(seed: Long, n: Int): IndexedSeq[Order] = {
    val r = new Random(seed * 31 + 1)
    val offset = (1L + r.nextInt(1 << 20)) * 32L
    (1 to n).map { i =>
      Order(offset + i, Priorities(r.nextInt(Priorities.size)),
        Statuses(r.nextInt(Statuses.size)))
    }
  }

  def writeOrders(spark: SparkSession, dir: String, orders: Seq[Order], seed: Long): Unit = {
    val r = new Random(seed * 31 + 2)
    val schema = StructType(Seq(
      StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
      StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
      StructField("o_orderdate", TimestampType), StructField("o_orderpriority", StringType)))
    val day = 86400000L
    val rows = orders.map { o =>
      Row(o.key, 1L + r.nextInt(10000), o.status, (r.nextInt(50000000) / 100.0),
        new Timestamp(694224000000L + r.nextInt(2400) * day), o.priority)
    }
    write(spark, rows, schema, s"$dir/orders.parquet")
  }

  // ---- events ------------------------------------------------------------

  private val Letters = "abcdefghijklmnopqrstuvwxyz"

  private def word(r: Random, min: Int, max: Int): String = {
    val n = min + r.nextInt(max - min + 1)
    val sb = new StringBuilder(n)
    var i = 0
    while (i < n) { sb += Letters(r.nextInt(26)); i += 1 }
    sb.toString
  }

  private def words(r: Random, n: Int): String = Seq.fill(n)(word(r, 2, 8)).mkString(" ")

  private def q(s: String): String = "\"" + s + "\""

  /** One canonical payload in Python `json.dumps` layout (", " and ": "
    * separators), about 2.5 KB. Strings hold only lowercase letters and
    * spaces, and no object is empty, so each of RepairQueries' five
    * malformation classes has exactly one repair: the canonical text. */
  def props(r: Random): String = {
    def item(): String = {
      val note = if (r.nextInt(4) == 0) "null" else q(words(r, 2 + r.nextInt(4)))
      s"""{"sku": ${q(word(r, 3, 6) + " " + word(r, 2, 4))}, "qty": ${1 + r.nextInt(40)}, """ +
        s""""price": ${r.nextInt(100000) - 20000}, "gift": ${r.nextBoolean()}, "note": $note}"""
    }
    val tags = Seq.fill(4 + r.nextInt(5))(q(word(r, 3, 9))).mkString("[", ", ", "]")
    val items = Seq.fill(16 + r.nextInt(9))(item()).mkString("[", ", ", "]")
    val flags = Seq.fill(3)(r.nextInt(3) match {
      case 0 => "true"; case 1 => "false"; case _ => "null"
    }).mkString("[", ", ", "]")
    s"""{"id": ${r.nextInt(1000000)}, "user": ${q(words(r, 2))}, "active": ${r.nextBoolean()}, """ +
      s""""tags": $tags, "items": $items, "meta": {"source": ${q(word(r, 3, 8))}, """ +
      s""""region": {"code": ${q(word(r, 2, 3))}, "zone": ${r.nextInt(100)}}, "flags": $flags}}"""
  }

  def events(seed: Long, n: Int): IndexedSeq[Event] = {
    val r = new Random(seed * 31 + 3)
    val offset = 5L * r.nextInt(1 << 20)
    (0 until n).map(i => Event(offset + i, props(r)))
  }

  def writeEvents(spark: SparkSession, dir: String, events: Seq[Event], seed: Long): Unit = {
    val r = new Random(seed * 31 + 4)
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    val types = Seq("click", "view", "purchase", "signup")
    val rows = events.map { e =>
      Row(e.id, new Timestamp(1700000000000L + e.id * 1000L), 1L + r.nextInt(5000),
        types(r.nextInt(types.size)), r.nextInt(100000) / 100.0, e.props)
    }
    write(spark, rows, schema, s"$dir/events.parquet")
  }

  /** The malformed text RepairQueries feeds the repair kernel for an event
    * (plain-Scala mirror of its `malformed` column). */
  def malformed(e: Event): String = (e.id % 5).toInt match {
    case 0 => e.props.reverse.dropWhile(_ == '}').reverse
    case 1 => e.props.replace('"', '\'')
    case 2 => "```json\n" + e.props + "\n```"
    case 3 => e.props.replace("}", ",}")
    case _ => e.props
  }

  // ---- documents ---------------------------------------------------------

  /** Documents per block; the last three slots of a block form one cluster,
    * so 3 / DocBlock of all documents are planted near-duplicates. */
  val DocBlock = 20
  /** Language shares of the engine's sample documents table (en about 40 %). */
  val Langs = Seq("en", "en", "en", "en", "en", "en", "en", "en", "zh", "zh", "zh",
    "es", "es", "es", "fr", "fr", "fr", "de", "de", "de")

  /** Documents shaped like the sample `documents` table: 15-100 words
    * drawn uniformly from a 31-word vocabulary, so unrelated documents share
    * most of their tokens and many character grams, and the dedup candidate
    * joins do real work. The seed picks the words, not their number or
    * lengths (1 to 8 letters, about four words per length). */
  def documents(seed: Long, n: Int): Docs = {
    val r = new Random(seed * 31 + 5)
    val vocab = {
      val seen = scala.collection.mutable.LinkedHashSet[String]()
      while (seen.size < 31) { val len = 1 + seen.size % 8; seen += word(r, len, len) }
      seen.toIndexedSeq
    }
    val byLen = vocab.groupBy(_.length)
    def text(): Array[String] = Array.fill(15 + r.nextInt(86))(vocab(r.nextInt(vocab.length)))
    // an edited copy: two words replaced by other words of the same length,
    // so n_chars (the token join's block key) is unchanged
    def edit(ws: Array[String]): Array[String] = {
      val out = ws.clone()
      r.shuffle(ws.indices.toList).take(2).foreach { i =>
        val same = byLen(ws(i).length).filter(_ != ws(i))
        out(i) = same(r.nextInt(same.length))
      }
      out
    }
    val offset = 1000L * r.nextInt(1 << 20)
    val docs = new ArrayBuffer[Doc](n)
    val clusters = new ArrayBuffer[Cluster]
    var i = 0
    while (i < n) {
      val id = offset + i
      val lang = Langs(r.nextInt(Langs.size))
      if (i % DocBlock == DocBlock - 3 && i + 2 < n) {
        val root = text()
        Seq(root, edit(root), edit(root)).zipWithIndex.foreach { case (ws, j) =>
          docs += Doc(id + j, ws.mkString(" "), lang)
        }
        clusters += Cluster(Seq(id, id + 1, id + 2))
        i += 3
      } else {
        docs += Doc(id, text().mkString(" "), lang)
        i += 1
      }
    }
    Docs(docs.toIndexedSeq, clusters.toSeq)
  }

  def writeDocuments(spark: SparkSession, dir: String, docs: Seq[Doc]): Unit = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val rows = docs.map(d =>
      Row(d.id, d.text, d.lang, s"src${d.id % 20}", d.text.length.toLong))
    write(spark, rows, schema, s"$dir/documents.parquet")
  }

  private def write(spark: SparkSession, rows: Seq[Row], schema: StructType, path: String): Unit = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, schema).coalesce(1)
      .write.mode("overwrite").parquet(path)
  }

  /** On-disk bytes under a path (files only). */
  def bytesUnder(path: String): Long = {
    import scala.jdk.CollectionConverters._
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) 0L
    else scala.util.Using.resource(java.nio.file.Files.walk(p))(
      _.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(java.nio.file.Files.size).sum)
  }
}
