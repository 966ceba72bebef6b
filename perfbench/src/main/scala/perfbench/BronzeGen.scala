package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.time.LocalDate
import java.util.{SplittableRandom, UUID}

import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.{MessageType, MessageTypeParser}
import org.apache.spark.sql.types._

/** Seeded bronze generator for both silver workloads.
  *
  * Writes nested bronze transactions (FIXTURES.md §1) as parquet files,
  * with the parquet library directly, and computes, in plain Scala and
  * without calling the program, the keys that must survive the silver
  * path. A line's content is a pure function of
  * (seed, line id), so a redelivered or duplicated line is byte-identical
  * to its first copy, as a Pub/Sub redelivery is.
  */
object BronzeGen {

  /** One bronze line: identity plus the day and company it belongs to. */
  final case class Line(id: Long, company: Int, day: Int)

  /** The fields of a line, and the silver keys the program derives. */
  final case class Content(checksum: String, date: String, concept: String,
      amountCents: Long, remainingCents: Long, metadata: Seq[(String, String)],
      etlChecksum: String)

  /** One bronze file: one company-day, as the reference's GCS layout. */
  final case class BronzeFile(index: Int, company: Int, day: Int, lines: Seq[Line]) {
    def dir(companies: IndexedSeq[String]): String = {
      val d = Epoch.plusDays(day.toLong)
      s"year=${d.getYear}/month=${d.getMonthValue}/day=${d.getDayOfMonth}/company_id=${companies(company)}"
    }
  }

  val Epoch: LocalDate = LocalDate.of(2024, 11, 1)

  private val Concepts = IndexedSeq("card payment", "transfer in", "transfer out",
    "direct debit", "payroll", "atm withdrawal", "fee", "refund", "interest", "tax")
  private val Banks = IndexedSeq("bank-a", "bank-b", "bank-c", "bank-d", "bank-e")

  private val Hex = "0123456789abcdef".toCharArray

  def md5Hex(s: String): String = {
    val d = MessageDigest.getInstance("MD5").digest(s.getBytes(UTF_8))
    val out = new Array[Char](32)
    d.indices.foreach { i => out(2 * i) = Hex((d(i) >> 4) & 15); out(2 * i + 1) = Hex(d(i) & 15) }
    new String(out)
  }

  /** Low 64 bits of an md5, for order-independent digests. */
  def md5Long(s: String): Long =
    java.nio.ByteBuffer.wrap(MessageDigest.getInstance("MD5").digest(s.getBytes(UTF_8))).getLong

  private def rng(seed: Long, salt: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ salt)

  /** Deterministic company ids (uuid-shaped, as the reference's). */
  def companyIds(seed: Long, n: Int): IndexedSeq[String] = {
    val r = rng(seed, 17L)
    IndexedSeq.fill(n)(new UUID(r.nextLong(), r.nextLong()).toString)
  }

  /** Zipf(s) sampler over `n` companies: a few companies own most lines. */
  final class Skewed(n: Int, s: Double) {
    private val cum = {
      val w = (1 to n).map(k => 1.0 / math.pow(k.toDouble, s))
      w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
    }
    def sample(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cum, r.nextDouble())
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  /** `d` in one of the reference's four date formats: yyyy-MM-dd,
    * dd-MM-yyyy, yyyy/MM/dd, dd/MM/yyyy.
    */
  private def render(d: LocalDate, format: Int): String = {
    def two(n: Int) = if (n < 10) s"0$n" else n.toString
    val (y, m, dd) = (d.getYear.toString, two(d.getMonthValue), two(d.getDayOfMonth))
    format match {
      case 0 => s"$y-$m-$dd"
      case 1 => s"$dd-$m-$y"
      case 2 => s"$y/$m/$dd"
      case _ => s"$dd/$m/$y"
    }
  }

  /** Content of a line. The etl checksum follows the reference's
    * definition: md5 over the normalized yyyy-MM-dd date, the concept and
    * the amount and remaining balance rendered as integer cents.
    */
  def content(seed: Long, line: Line): Content = {
    val r = rng(seed, line.id)
    val date = Epoch.plusDays(line.day.toLong - r.nextInt(3))
    val concept = s"${Concepts(r.nextInt(Concepts.size))} ${r.nextInt(10000)}"
    val amount = r.nextLong(-500000L, 500000L)
    val remaining = r.nextLong(0L, 50000000L)
    val metadata = Seq("channel" -> s"ch${r.nextInt(4)}", "ref" -> s"r${line.id}")
      .take(r.nextInt(3))
    Content(md5Hex(s"line:$seed:${line.id}"), render(date, r.nextInt(4)), concept,
      amount, remaining, metadata,
      md5Hex(render(date, 0) + concept + amount.toString + remaining.toString))
  }

  /** Parquet schema of a bronze file: FIXTURES.md §1 with standard
    * three-level lists, as Spark writes them.
    */
  val Schema: MessageType = MessageTypeParser.parseMessageType(
    """message bronze {
      |  optional binary userId (STRING);
      |  optional binary companyId (STRING);
      |  optional group payload (LIST) {
      |    repeated group list {
      |      optional group element {
      |        optional group header {
      |          optional binary account_number (STRING);
      |          optional binary account_alias (STRING);
      |          optional binary currency (STRING);
      |          optional binary timeframe (STRING);
      |          optional binary report_date (STRING);
      |          optional binary bank (STRING);
      |          optional int64 extraction_timestamp (TIMESTAMP(MICROS,true));
      |        }
      |        optional group lines (LIST) {
      |          repeated group list {
      |            optional group element {
      |              optional binary checksum (STRING);
      |              optional binary date (STRING);
      |              optional binary concept (STRING);
      |              optional double amount;
      |              optional double remaining;
      |              optional group metadata (LIST) {
      |                repeated group list {
      |                  optional group element {
      |                    optional binary key (STRING);
      |                    optional binary value (STRING);
      |                  }
      |                }
      |              }
      |            }
      |          }
      |        }
      |      }
      |    }
      |  }
      |}""".stripMargin)

  /** The same shape as a Spark schema, for the streaming source. */
  val SparkSchema: StructType = {
    val line = new StructType()
      .add("checksum", StringType).add("date", StringType).add("concept", StringType)
      .add("amount", DoubleType).add("remaining", DoubleType)
      .add("metadata", ArrayType(new StructType().add("key", StringType).add("value", StringType)))
    val header = new StructType()
      .add("account_number", StringType).add("account_alias", StringType)
      .add("currency", StringType).add("timeframe", StringType)
      .add("report_date", StringType).add("bank", StringType)
      .add("extraction_timestamp", TimestampType)
    new StructType().add("userId", StringType).add("companyId", StringType)
      .add("payload", ArrayType(new StructType().add("header", header).add("lines", ArrayType(line))))
  }

  private lazy val hadoopConf = new org.apache.hadoop.conf.Configuration()

  /** Write one bronze file to `path`: the file's lines split across three
    * accounts, each account's lines chunked into payload elements, as an
    * extraction batch is.
    */
  def write(seed: Long, f: BronzeFile, companies: IndexedSeq[String], path: java.nio.file.Path): Unit = {
    val day = Epoch.plusDays(f.day.toLong)
    val micros = day.atTime(6, 0).toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L
    val factory = new SimpleGroupFactory(Schema)
    val w = ExampleParquetWriter.builder(new LocalOutputFile(path)).withType(Schema)
      .withConf(hadoopConf).withCompressionCodec(CompressionCodecName.SNAPPY).build()
    try f.lines.zipWithIndex.groupBy { case (l, i) => (l.id + i) % 3 }.toSeq.sortBy(_._1).foreach {
      case (acct, ls) =>
        val g = factory.newGroup()
          .append("userId", s"user-${f.company}-$acct").append("companyId", companies(f.company))
        val payload = g.addGroup("payload")
        ls.map(_._1).grouped(40).zipWithIndex.foreach { case (chunk, k) =>
          val el = payload.addGroup("list").addGroup("element")
          el.addGroup("header")
            .append("account_number", s"ES${f.company}$acct")
            .append("account_alias", s"acct-${f.company}-$acct")
            .append("currency", "EUR").append("timeframe", "daily")
            .append("report_date", render(day, (f.index + k) % 4))
            .append("bank", Banks((f.company + acct.toInt) % Banks.size))
            .append("extraction_timestamp", micros)
          val lines = el.addGroup("lines")
          chunk.foreach { l =>
            val c = content(seed, l)
            val e = lines.addGroup("list").addGroup("element")
              .append("checksum", c.checksum).append("date", c.date).append("concept", c.concept)
              .append("amount", c.amountCents / 100.0).append("remaining", c.remainingCents / 100.0)
            val md = e.addGroup("metadata")
            c.metadata.foreach { case (mk, mv) =>
              md.addGroup("list").addGroup("element").append("key", mk).append("value", mv)
            }
          }
        }
        w.write(g)
    } finally w.close()
  }

  val LedgerSchema: MessageType = MessageTypeParser.parseMessageType(
    """message ledger {
      |  required binary company_id (STRING);
      |  required binary checksum (STRING);
      |  required binary etl_checksum (STRING);
      |}""".stripMargin)

  /** Write silver ledger keys (company_id, checksum, etl_checksum) as one
    * parquet file.
    */
  def writeLedger(path: java.nio.file.Path, keys: Iterator[(String, String, String)]): Unit = {
    val factory = new SimpleGroupFactory(LedgerSchema)
    val w = ExampleParquetWriter.builder(new LocalOutputFile(path)).withType(LedgerSchema)
      .withConf(hadoopConf).withCompressionCodec(CompressionCodecName.SNAPPY).build()
    try keys.foreach { case (c, ck, eck) =>
      w.write(factory.newGroup().append("company_id", c).append("checksum", ck).append("etl_checksum", eck))
    } finally w.close()
  }

  /** Write every file as `dir/f<index>.parquet`. */
  def stage(seed: Long, files: Seq[BronzeFile], companies: IndexedSeq[String], dir: String): Unit = {
    new java.io.File(dir).mkdirs()
    files.foreach(f => write(seed, f, companies, java.nio.file.Paths.get(dir, fileName(f))))
  }

  def fileName(f: BronzeFile): String = f"f${f.index}%06d.parquet"

  /** Move a staged file into its Hive partition directory under `root`.
    * The rename is atomic, so a watching stream never sees a partial file.
    */
  def place(staging: String, root: String, f: BronzeFile, companies: IndexedSeq[String]): Unit = {
    val dst = new java.io.File(s"$root/${f.dir(companies)}")
    dst.mkdirs()
    java.nio.file.Files.move(java.nio.file.Paths.get(staging, fileName(f)),
      new java.io.File(dst, fileName(f)).toPath)
    ()
  }
}
