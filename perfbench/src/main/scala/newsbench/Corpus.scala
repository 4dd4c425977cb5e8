package newsbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.time.LocalDateTime
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._

/** One generated feed: the JSON lines of each micro-batch file and the
  * ids of the valid articles in it. The program only ever sees the files.
  */
final case class Corpus(batches: IndexedSeq[IndexedSeq[String]],
                        valid: IndexedSeq[IndexedSeq[String]]) {
  def validCount: Int = valid.map(_.size).sum

  /** One file per micro-batch. The file source orders by modification
    * time, so each file gets its own, increasing stamp. */
  def write(dir: String): Unit = {
    Files.createDirectories(Paths.get(dir))
    batches.zipWithIndex.foreach { case (lines, i) =>
      val f = Paths.get(dir, f"batch-$i%05d.json")
      Files.write(f, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
      f.toFile.setLastModified(1700000000000L + i * 1000L)
    }
  }
}

/** Seeded article generators. Every article is derived from a row of
  * `documents.parquet` (doc_id, text); the same seed gives the same files.
  */
object Corpus {

  /** Raw-article schema the stream reads the files with. */
  val schema: StructType = StructType(Seq(
    StructField("id", StringType), StructField("title", StringType),
    StructField("text", StringType), StructField("date", StringType),
    StructField("organizations", ArrayType(StringType)),
    StructField("locations", ArrayType(StringType))))

  final case class Doc(id: Long, text: String)

  def loadDocs(spark: SparkSession, dataDir: String): IndexedSeq[Doc] =
    spark.read.parquet(s"$dataDir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => Doc(r.getLong(0), r.getString(1))).sortBy(_.id).toIndexedSeq

  private val Groups = graft.NewsPipeline.Groups
  private val Epoch = LocalDateTime.of(2024, 1, 1, 0, 0)
  private val DateFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  private def dateAt(minutes: Long) = Epoch.plusMinutes(minutes).format(DateFmt)

  private def str(s: String): String = Json.str(s)
  private def arr(xs: Seq[String]) = xs.map(str).mkString("[", ",", "]")

  private def json(id: String, title: Option[String], text: String, date: String,
                   orgs: Seq[String], locs: Seq[String]): String =
    (Seq(s""""id":${str(id)}""") ++ title.map(t => s""""title":${str(t)}""") ++ Seq(
      s""""text":${str(text)}""", s""""date":${str(date)}""",
      s""""organizations":${arr(orgs)}""", s""""locations":${arr(locs)}"""))
      .mkString("{", ",", "}")

  /** The planted-topic article for a document, field for field as
    * `NewsPipeline.syntheticArticles` derives it. */
  private def plantedJson(d: Doc, withTitle: Boolean): (String, String) = {
    val g = d.id % Groups
    val id = f"${d.id}%06d"
    (id, json(id, if (withTitle) Some(s"Group $g story $id") else None,
      s"plant$g " * 30 + d.text.take(20), dateAt(d.id),
      Seq(s"org${d.id % 4}"), Seq(s"loc$g", s"locx${d.id % 3}")))
  }

  /** A record the pipeline must drop: every 50th article misses its
    * title, and each file ends with one line that is not JSON. */
  private def invalid(k: Int) = k % 50 == 49
  private val CorruptLine = """{"id":"corrupt"""

  private def assemble(perBatch: IndexedSeq[IndexedSeq[(String, String, Boolean)]],
                       corrupt: Boolean): Corpus =
    Corpus(
      perBatch.map(b => b.map(_._2) ++ (if (corrupt) Seq(CorruptLine) else Nil)),
      perBatch.map(_.collect { case (id, _, true) => id }))

  /** The a9 corpus exactly: every document, batch `(doc_id div 8) % 5`,
    * no invalid records — the input `NewsPipeline.uiClusters` reads. */
  def a9(docs: IndexedSeq[Doc]): Corpus = {
    val nb = graft.NewsPipeline.Batches
    assemble((0 until nb).map { b =>
      docs.filter(d => (d.id / Groups) % nb == b).map { d =>
        val (id, j) = plantedJson(d, withTitle = true); (id, j, true)
      }
    }, corrupt = false)
  }

  /** `planted_topics`: `nBatches` × `batchSize` documents drawn in a
    * seeded order, each carrying its group's planted token. */
  def planted(docs: IndexedSeq[Doc], seed: Long, nBatches: Int, batchSize: Int): Corpus = {
    val order = new scala.util.Random(seed).shuffle(docs).take(nBatches * batchSize)
    require(order.size == nBatches * batchSize,
      s"planted corpus needs ${nBatches * batchSize} documents, have ${docs.size}")
    assemble(order.grouped(batchSize).toIndexedSeq.zipWithIndex.map { case (ds, b) =>
      ds.toIndexedSeq.zipWithIndex.map { case (d, i) =>
        val ok = !invalid(b * batchSize + i)
        val (id, j) = plantedJson(d, withTitle = ok); (id, j, ok)
      }
    }, corrupt = true)
  }

  /** `open_feed` splices one syndicated story per [[ArticlesPerStory]]
    * articles of a batch (at least one), in [[StoryCopies]] copies. */
  val ArticlesPerStory = 60
  val StoryCopies = 7

  /** `open_feed`: the documents' own text with no planted token, in a
    * seeded order. Spliced into each batch are syndicated stories:
    * documents published [[StoryCopies]] times, each copy under its own
    * id, date and tags. The copies' text is the same, so each story is
    * one cluster of more than five articles and summarizes in its batch;
    * every other document stays a singleton unless its own text is near
    * another's. */
  def open(docs: IndexedSeq[Doc], seed: Long, nBatches: Int, batchSize: Int): Corpus = {
    val rng = new scala.util.Random(seed)
    val perBatch = math.max(1, batchSize / ArticlesPerStory)
    val singles = batchSize - perBatch * StoryCopies
    val order = rng.shuffle(docs).take(nBatches * (singles + perBatch))
    require(singles > 0 && order.size == nBatches * (singles + perBatch),
      s"open corpus needs ${nBatches * (singles + perBatch)} documents, have ${docs.size}")
    val (own, stories) = order.splitAt(nBatches * singles)
    assemble((0 until nBatches).map { b =>
      val ds = own.slice(b * singles, (b + 1) * singles) ++
        stories.slice(b * perBatch, (b + 1) * perBatch).flatMap(Seq.fill(StoryCopies)(_))
      rng.shuffle(ds).zipWithIndex.map { case (d, i) =>
        val k = b * batchSize + i
        val ok = !invalid(k)
        val id = f"n$seed%d-$k%06d"
        (id, json(id, if (ok) Some(d.text.split(' ').take(4).mkString(" ")) else None,
          d.text, dateAt(k), Seq(s"org${rng.nextInt(6)}"),
          Seq(s"loc${rng.nextInt(10)}")), ok)
      }
    }, corrupt = true)
  }
}
