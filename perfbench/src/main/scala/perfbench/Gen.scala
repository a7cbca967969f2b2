package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.sql.Timestamp
import java.util.SplittableRandom
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. Every row is a pure function of
  * (seed, row index), so a table generates in parallel through Spark
  * and the same seed gives the same rows byte for byte ([[canonical]]).
  */
object Gen extends Serializable {

  /** splitmix64 finalizer: a well-mixed 64-bit hash. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  def hash(seed: Long, a: Long, b: Long = 0L): Long = mix(mix(mix(seed) ^ a) ^ b)
  def pick(h: Long, n: Int): Int = java.lang.Math.floorMod(h, n.toLong).toInt
  def rng(h: Long): SplittableRandom = new SplittableRandom(h)
  private def cents(r: SplittableRandom, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0

  /** A generated table: `rows` rows, row i = `row(i)`. */
  final case class Table(name: String, rows: Long, schema: StructType, row: Long => Row)

  def write(spark: SparkSession, t: Table, path: String): Unit = {
    val f = t.row
    spark.createDataFrame(spark.sparkContext.range(0L, t.rows, 1L, 4).map(f), t.schema)
      .write.mode("overwrite").parquet(path)
  }

  /** Canonical bytes of a table's rows (timestamps as epoch millis, so
    * the bytes do not depend on the JVM time zone).
    */
  def canonical(t: Table): Array[Byte] =
    (0L until t.rows)
      .map(t.row(_).toSeq.map {
        case ts: Timestamp => ts.getTime.toString
        case v => String.valueOf(v)
      }.mkString("\u0001"))
      .mkString("\n")
      .getBytes(UTF_8)

  private val Day = 86400000L
  private val Epoch1992 = 8035L * Day // 1992-01-01

  // ---- migrate: TPC-H-shaped tables ------------------------------------

  /** The migrate input is fixed: the workload seed does not change it. */
  val TpchSeed = 19920101L

  private def st(fs: (String, DataType)*): StructType = StructType(fs.map { case (n, t) => StructField(n, t) })

  /** The seven TPC-H tables with the column names, types and row counts
    * of the sf0.01 fixture (78,630 rows). `lineitem` draws
    * (l_orderkey, l_linenumber) independently, so like the fixture its
    * composite primary key does not hold.
    */
  def tpch: Seq[Table] = {
    val seed = TpchSeed
    val nSupp = 100L
    val nPart = 2000L
    val nCust = 1500L
    val nOrders = 15000L
    val nLine = 60000L
    def ts(r: SplittableRandom): Timestamp = new Timestamp(Epoch1992 + r.nextInt(2557) * Day)
    def pickOf(r: SplittableRandom, xs: Array[String]): String = xs(r.nextInt(xs.length))
    val regions = Array("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    val segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    val priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val adjectives = Array("small", "large", "shiny", "plated", "brushed", "polished")
    val nouns = Array("ring", "bolt", "gear", "pipe", "valve", "plate")
    val types = Array("ECONOMY", "STANDARD", "PROMO", "LARGE", "MEDIUM", "SMALL")
    Seq(
      Table("region", 5, st("r_regionkey" -> IntegerType, "r_name" -> StringType), i => Row(i.toInt, regions(i.toInt))),
      Table(
        "nation", 25, st("n_nationkey" -> IntegerType, "n_name" -> StringType, "n_regionkey" -> IntegerType),
        i => Row(i.toInt, s"NATION_$i", (i % 5).toInt)
      ),
      Table(
        "supplier", nSupp,
        st("s_suppkey" -> LongType, "s_name" -> StringType, "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
        { i =>
          val r = rng(hash(seed, 1, i))
          Row(i, f"Supplier#$i%09d", r.nextInt(25), cents(r, -999.99, 9999.99))
        }
      ),
      Table(
        "part", nPart,
        st(
          "p_partkey" -> LongType, "p_name" -> StringType, "p_brand" -> StringType, "p_type" -> StringType,
          "p_size" -> IntegerType, "p_retailprice" -> DoubleType
        ),
        { i =>
          val r = rng(hash(seed, 2, i))
          Row(i, s"${pickOf(r, adjectives)} ${pickOf(r, nouns)}", s"Brand#${1 + r.nextInt(5)}", pickOf(r, types),
            1 + r.nextInt(50), cents(r, 900, 2000))
        }
      ),
      Table(
        "customer", nCust,
        st(
          "c_custkey" -> LongType, "c_name" -> StringType, "c_nationkey" -> IntegerType,
          "c_acctbal" -> DoubleType, "c_mktsegment" -> StringType
        ),
        { i =>
          val r = rng(hash(seed, 3, i))
          Row(i, f"Customer#$i%09d", r.nextInt(25), cents(r, -999.99, 9999.99), pickOf(r, segments))
        }
      ),
      Table(
        "orders", nOrders,
        st(
          "o_orderkey" -> LongType, "o_custkey" -> LongType, "o_orderstatus" -> StringType,
          "o_totalprice" -> DoubleType, "o_orderdate" -> TimestampType, "o_orderpriority" -> StringType
        ),
        { i =>
          val r = rng(hash(seed, 4, i))
          Row(i, r.nextLong(nCust), pickOf(r, Array("F", "O", "P")), cents(r, 800, 500000), ts(r), pickOf(r, priorities))
        }
      ),
      Table(
        "lineitem", nLine,
        st(
          "l_orderkey" -> LongType, "l_partkey" -> LongType, "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
          "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType, "l_discount" -> DoubleType,
          "l_tax" -> DoubleType, "l_returnflag" -> StringType, "l_linestatus" -> StringType,
          "l_shipdate" -> TimestampType
        ),
        { i =>
          val r = rng(hash(seed, 5, i))
          val qty = (1 + r.nextInt(50)).toDouble
          Row(r.nextLong(nOrders), r.nextLong(nPart), r.nextLong(nSupp), 1 + r.nextInt(7), qty,
            math.round(qty * (900 + r.nextInt(1100)) * 100) / 100.0, r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
            pickOf(r, Array("A", "N", "R")), pickOf(r, Array("F", "O")), ts(r))
        }
      )
    )
  }

  // ---- sync: versions of an orders table ------------------------------

  /** Version v of the source is the table after rounds 1..v. Round j
    * updates about `updatePermille`/1000 of the keys that exist before
    * it and inserts `inserts` new keys; a changed row carries
    * `updated_at` = hour j.
    */
  final case class SyncSpec(seed: Long, baseRows: Long = 60000L, rounds: Int = 8, inserts: Long = 500L,
      updatePermille: Int = 10) {
    def keysAt(version: Int): Long = baseRows + version * inserts
    def insertedIn(k: Long): Int = if (k < baseRows) 0 else ((k - baseRows) / inserts + 1).toInt
    def updatedIn(k: Long, round: Int): Boolean =
      round > insertedIn(k) && pick(hash(seed, k, round), 1000) < updatePermille
    def lastChange(k: Long, version: Int): Int =
      (version until insertedIn(k) by -1).find(updatedIn(k, _)).getOrElse(insertedIn(k))
    /** Rows round `round` changes: its updates plus its inserts. */
    def changedIn(round: Int): Long = (0L until keysAt(round - 1)).count(updatedIn(_, round)) + inserts
    def watermark(version: Int): String = {
      val f = new java.text.SimpleDateFormat("yyyy-MM-dd HH:mm:ss")
      f.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
      f.format(new java.util.Date(SyncT0 + version * 3600000L))
    }
  }
  private val SyncT0 = 1704067200000L // 2024-01-01 00:00 UTC

  val syncSchema: StructType = StructType(
    Seq(
      "o_orderkey" -> LongType, "o_custkey" -> LongType, "o_orderstatus" -> StringType,
      "o_totalprice" -> DoubleType, "o_orderdate" -> TimestampType, "o_orderpriority" -> StringType,
      "updated_at" -> TimestampType
    ).map { case (n, t) => StructField(n, t) }
  )

  private val statuses = Array("F", "O", "P")
  private val priorities = Array("1-URGENT", "3-MEDIUM", "5-LOW")

  def syncVersion(spec: SyncSpec, version: Int): Table =
    Table(s"orders_v$version", spec.keysAt(version), syncSchema, { k =>
      val v = spec.lastChange(k, version)
      val fixed = rng(hash(spec.seed, k, -1))
      val changing = rng(hash(spec.seed, k, v))
      Row(k, fixed.nextLong(15000), statuses(changing.nextInt(3)), cents(changing, 800, 500000),
        new Timestamp(Epoch1992 + fixed.nextInt(2557) * Day), priorities(fixed.nextInt(3)),
        new Timestamp(SyncT0 + v * 3600000L))
    })

  // ---- search_serve: a text corpus and a query stream ------------------

  /** Vocabulary rank r: the six most frequent words are the
    * TextAnalysis stopwords, the rest are two-syllable letter words.
    */
  val Stopwords: Array[String] = Array("the", "a", "of", "to", "and", "in")
  val VocabSize = 5000
  private val syllables = for (c <- "bdfgklmnprstvz"; v <- "aeiou") yield s"$c$v"
  def word(r: Int): String =
    if (r < Stopwords.length) Stopwords(r)
    else {
      val n = r - Stopwords.length
      syllables(n % syllables.size) + syllables(n / syllables.size % syllables.size) +
        (if (n >= syllables.size * syllables.size) syllables(n / (syllables.size * syllables.size)) else "")
    }

  /** Zipf(1) over the vocabulary: rank r has weight 1/(r+1). */
  private lazy val zipfCdf: Array[Double] = {
    val w = (0 until VocabSize).map(r => 1.0 / (r + 1)).scanLeft(0.0)(_ + _).tail.toArray
    w.map(_ / w.last)
  }
  /** The rank whose cumulative Zipf weight first reaches `u` in [0, 1). */
  def zipfRank(u: Double): Int = {
    val i = java.util.Arrays.binarySearch(zipfCdf, u)
    math.min(if (i >= 0) i else -i - 1, VocabSize - 1)
  }

  /** A corpus with the fixture `documents` schema. Doc i is Zipf text of
    * 20-119 words, except for planted shares: exact copies and one-word
    * edits of an earlier doc, and docs that repeat one 10-word chunk.
    */
  final case class CorpusSpec(seed: Long, docs: Long = 2000L)
  private val ExactPct = 5
  private val NearPct = 5
  private val RepeatPct = 3

  val documentsSchema: StructType = st(
    "doc_id" -> LongType, "text" -> StringType, "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType
  )

  private def baseWords(seed: Long, i: Long): Array[String] = {
    val r = rng(hash(seed, 6, i))
    Array.fill(20 + r.nextInt(100))(word(zipfRank(r.nextDouble())))
  }

  def docWords(c: CorpusSpec, i: Long): Array[String] = {
    val kind = pick(hash(c.seed, 7, i), 100)
    val r = rng(hash(c.seed, 8, i))
    if (i > 0 && kind < ExactPct) baseWords(c.seed, r.nextLong(i))
    else if (i > 0 && kind < ExactPct + NearPct) {
      val w = baseWords(c.seed, r.nextLong(i))
      w(r.nextInt(w.length)) = word(zipfRank(r.nextDouble()))
      w
    } else if (kind < ExactPct + NearPct + RepeatPct) {
      val chunk = baseWords(c.seed, i).take(10)
      Array.fill(3 + r.nextInt(4))(chunk).flatten
    } else baseWords(c.seed, i)
  }

  def corpus(c: CorpusSpec): Table =
    Table("documents", c.docs, documentsSchema, { i =>
      val text = docWords(c, i).mkString(" ")
      val lang = pick(hash(c.seed, 9, i), 10) match {
        case l if l < 7 => "en"
        case l if l < 9 => "de"
        case _ => "fr"
      }
      Row(i, text, lang, s"src${i % 7}", text.length.toLong)
    })

  /** One query: `kind` is "or" (BM25 disjunctive), "and" (conjunctive)
    * or "phrase".
    */
  final case class Query(kind: String, terms: Seq[String])

  /** Kinds cycle through a fixed block of ten (5 or, 3 and, 2 phrase). */
  private val kinds = Array("or", "and", "or", "phrase", "or", "and", "or", "or", "and", "phrase")

  /** Query `q` of the stream. Term j of a term query is the Zipf rank at
    * a point drawn from decile (3q + 7j) mod 10, so every block of ten
    * queries meets frequent and rare words alike. A phrase is two
    * adjacent words of a corpus doc, so it has at least one hit.
    */
  def query(c: CorpusSpec, q: Long): Query = {
    val r = rng(hash(c.seed, 10, q))
    kinds((q % kinds.length).toInt) match {
      case "phrase" =>
        val w = docWords(c, r.nextLong(c.docs))
        val at = r.nextInt(w.length - 1)
        Query("phrase", Seq(w(at), w(at + 1)))
      case kind =>
        val n = if (kind == "or") 2 + r.nextInt(2) else 2
        val terms = (0 until n).map(j => word(zipfRank((((3 * q + 7 * j) % 10) + r.nextDouble()) / 10))).distinct
        Query(kind, terms)
    }
  }
}
