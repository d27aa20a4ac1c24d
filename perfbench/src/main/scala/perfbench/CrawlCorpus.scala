package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.util.Random

import graft.io.{IcebergInterop, WarcReader, WarcWriter}
import graft.operators.{Dedup, Extract}
import graft.streaming.DedupStream
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `crawl_corpus`: a generated crawl with planted exact and near
  * duplicates, taken through the text plane each iteration: WARC write
  * (gzip members) → WARC read → HTML text extraction → exact dedup →
  * MinHash near-dup pairs, then the same documents arrive in batches at
  * the streaming dedup sink. Each stage materialises its output, as a
  * staged crawl pipeline does, so every operation is one layer's work.
  *
  * Pages are built from a vocabulary of random letter strings, so two
  * unrelated documents share practically no word 3-shingle: only planted
  * duplicates can collide, which makes every dedup outcome checkable
  * exactly. A near-duplicate differs from its original in one word (word
  * 3-shingle Jaccard at least 0.95). */
final class CrawlCorpus(spark: SparkSession, root: String, seed: Long) extends Workload {
  private val nBase = 240
  private val nExact = 30
  private val nNear = 30
  private val pageFiles = 8
  private val streamBatches = 3
  private val threshold = 0.8
  private val shingle = 3

  /** A generated page: its clean text is what extraction must return. */
  final case class Page(uri: String, title: String, paragraphs: Seq[String]) {
    def text: String = paragraphs.mkString("\n")
    def html: String =
      s"<html><head><title>$title</title></head><body>" +
        "<nav><a href='/'>home</a> <a href='/news'>news</a> <a href='/about'>about us</a></nav>" +
        s"<h1>${title.split(' ').take(2).mkString(" ")}</h1>" +
        paragraphs.map(p => s"<p>$p</p>").mkString +
        "<footer><a href='/contact'>contact</a> <a href='/privacy'>privacy policy</a></footer>" +
        "</body></html>"
  }

  // ---- the current iteration's model ----
  private var pages = Seq.empty[Page]
  /** Planted near-duplicate pairs as the program orders them: (lower
    * uri, higher uri). */
  private var nearPairs = Seq.empty[(String, String)]
  private var lastExact = Seq.empty[String]
  private var lastPairs = Seq.empty[(String, String)]
  private var lastStream = Seq.empty[Long]

  private def uri(id: Int) = f"http://host${id % 23}.example/doc-$id%06d"
  private def idOf(uri: String) = uri.takeRight(6).toLong

  def prepare(iter: Int): Prepared = {
    val rnd = new Random(seed * 1000003L + iter)
    val dir = s"$root/it$iter"
    val vocab = IndexedSeq.fill(6000)(
      Iterator.continually(('a' + rnd.nextInt(26)).toChar).take(3 + rnd.nextInt(7)).mkString)
    def words(n: Int) = Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val base = (0 until nBase).map(i =>
      Page(uri(i), words(4), Seq.fill(4 + rnd.nextInt(3))(words(35 + rnd.nextInt(40)))))
    val copies = rnd.shuffle(base.indices.toList).take(nExact + nNear)
    val exact = copies.take(nExact).zipWithIndex.map { case (b, k) =>
      base(b).copy(uri = uri(nBase + k)) }
    val near = copies.drop(nExact).zipWithIndex.map { case (b, k) =>
      val p = base(b)
      val j = rnd.nextInt(p.paragraphs.size)
      val ws = p.paragraphs(j).split(' ')
      val edited = ws.updated(rnd.nextInt(ws.length), words(1))
      p.copy(uri = uri(nBase + nExact + k), paragraphs = p.paragraphs.updated(j, edited.mkString(" ")))
    }
    pages = base ++ exact ++ near
    // the program orders each pair by its id column, the uri string
    nearPairs = copies.drop(nExact).zip(near).map { case (b, n) =>
      if (base(b).uri < n.uri) (base(b).uri, n.uri) else (n.uri, base(b).uri) }
    nearPairs.foreach { case (a, b) =>
      require(jaccard(textOf(a), textOf(b)) >= threshold + 0.1, s"generated pair $a $b is not near")
    }
    // the pages, as a crawler hands them over, spread over a few files
    val shuffled = rnd.shuffle(pages)
    var bytes = 0L
    shuffled.grouped((pages.size + pageFiles - 1) / pageFiles).zipWithIndex.foreach { case (g, k) =>
      bytes += write(s"$dir/pages/part-$k.json",
        g.map(p => s"""{"uri":${json(p.uri)},"html":${json(p.html)}}"""))
    }
    // the stream's arrivals: documents in id order, in equal batches
    pages.sortBy(p => idOf(p.uri)).grouped((pages.size + streamBatches - 1) / streamBatches)
      .zipWithIndex.foreach { case (g, k) =>
        bytes += write(f"$dir/in/batch-$k%02d.json",
          g.map(p => s"""{"id":${idOf(p.uri)},"text":${json(p.text)}}"""))
      }
    Prepared(dir, 2L * pages.size, bytes)
  }

  private def write(path: String, lines: Seq[String]): Long = {
    val p = Paths.get(path)
    Files.createDirectories(p.getParent)
    val b = lines.mkString("", "\n", "\n").getBytes(UTF_8)
    Files.write(p, b)
    b.length
  }

  private def json(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c => c.toString
    } + "\""

  private def textOf(uri: String): String = pages.find(_.uri == uri).get.text

  /** Word 3-shingle Jaccard of two texts, normalised as the program's
    * tokenizer does (lower case, whitespace split). */
  def jaccard(a: String, b: String): Double = {
    def sh(t: String) = t.trim.toLowerCase.split("\\s+").sliding(shingle).map(_.mkString(" ")).toSet
    val (x, y) = (sh(a), sh(b))
    (x & y).size.toDouble / (x | y).size
  }

  private def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes(UTF_8)).map("%02x".format(_)).mkString

  /** Survivors of exact dedup: the lowest uri of every distinct text. */
  private def exactSurvivors: Seq[String] =
    pages.groupBy(_.text).values.map(_.map(_.uri).min).toSeq

  private def checkExact(got: Seq[String]): Unit =
    Check.sameRows("exact-dedup survivors", got, exactSurvivors)

  /** Every planted pair reported, and no reported pair below the
    * threshold by the benchmark's own Jaccard. */
  private def checkPairs(got: Seq[(String, String)]): Unit = {
    val set = got.toSet
    val missed = nearPairs.filterNot(set)
    Check.expect(missed.isEmpty, s"near-dup pairs not found: ${missed.take(3).mkString(", ")}")
    val text = pages.map(p => p.uri -> p.text).toMap
    val low = got.filter { case (a, b) => jaccard(text(a), text(b)) < threshold }
    Check.expect(low.isEmpty, s"reported pairs below $threshold: ${low.take(3).mkString(", ")}")
  }

  /** The stream keeps every original and drops every exact copy; a
    * near-duplicate may go either way (the sink's LSH has no verify
    * step). */
  private def checkStream(got: Seq[Long]): Unit = {
    val ids = got.toSet
    val originals = pages.take(nBase).map(p => idOf(p.uri)).toSet
    val copies = pages.slice(nBase, nBase + nExact).map(p => idOf(p.uri)).toSet
    Check.expect(got.size == ids.size, "the streamed corpus holds a document twice")
    Check.expect(ids.subsetOf(pages.map(p => idOf(p.uri)).toSet), "the streamed corpus holds unknown ids")
    val lost = originals -- ids
    Check.expect(lost.isEmpty, s"the stream dropped originals ${lost.take(3).mkString(", ")}")
    val kept = copies & ids
    Check.expect(kept.isEmpty, s"the stream kept exact copies ${kept.take(3).mkString(", ")}")
  }

  def run(rec: Recorder, in: Prepared): Unit = {
    val dir = in.dir
    val pageSchema = StructType(Seq(StructField("uri", StringType), StructField("html", StringType)))
    rec.op("warc.write") {
      WarcWriter.writeArchives(spark.read.schema(pageSchema).json(s"$dir/pages"),
        "uri", "html", s"$dir/warc", gzip = true)
    } { _ =>
      Check.expect(Storage.countFiles(s"$dir/warc") > 0, "no archive written")
    }
    rec.op("warc.read") {
      WarcReader.recordsGz(spark, s"$dir/warc")
        .where(col("record_type") === "response" && col("http_status") === 200)
        .select(col("target_uri").as("uri"), col("payload").as("html"))
        .write.parquet(s"$dir/records")
    } { _ =>
      val got = spark.read.parquet(s"$dir/records").collect().map(r => r.getString(0) -> md5(r.getString(1)))
      Check.sameRows("WARC records (uri, body md5)", got.toSeq, pages.map(p => p.uri -> md5(p.html)))
    }
    rec.op("extract.text") {
      Extract.extractText(spark.read.parquet(s"$dir/records"), "html", "uri")
        .select("uri", "title", "clean_text").write.parquet(s"$dir/text")
    } { _ =>
      val got = spark.read.parquet(s"$dir/text").collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
      Check.sameRows("extracted (uri, title, text)", got.toSeq, pages.map(p => (p.uri, p.title, p.text)))
    }
    rec.op("dedup.exact") {
      Dedup.exact(spark.read.parquet(s"$dir/text"), "clean_text", "uri")
        .select("uri", "clean_text").write.parquet(s"$dir/exact")
    } { _ =>
      lastExact = spark.read.parquet(s"$dir/exact").select("uri").collect().map(_.getString(0)).toSeq
      checkExact(lastExact)
    }
    rec.op("dedup.near") {
      Dedup.minhashNearDups(spark.read.parquet(s"$dir/exact"), "clean_text", "uri", threshold,
        shingleSize = shingle, numHashes = 32, bands = 8)
        .select("id_a", "id_b").collect().map(r => (r.getString(0), r.getString(1))).toSeq
    } { pairs =>
      lastPairs = pairs
      checkPairs(pairs)
    }
    streamOps(rec, dir)
  }

  /** Batches arrive one at a time in the watched directory; the running
    * dedup sink processes each as one micro-batch. */
  private def streamOps(rec: Recorder, dir: String): Unit = {
    val arrivals = s"$dir/arrivals"
    Files.createDirectories(Paths.get(arrivals))
    val docs = spark.readStream
      .schema(StructType(Seq(StructField("id", LongType), StructField("text", StringType))))
      .json(arrivals)
    val q = DedupStream.dedupSink(spark, docs, "id", "text", s"$dir/corpus", s"$dir/signatures",
      "dedup", s"$dir/stream-checkpoint")
    try (0 until streamBatches).foreach { k =>
      rec.untimed(Files.move(Paths.get(f"$dir/in/batch-$k%02d.json"),
        Paths.get(f"$arrivals/batch-$k%02d.json"), StandardCopyOption.ATOMIC_MOVE))
      rec.op("dedup_stream.batch")(q.processAllAvailable()) { _ =>
        if (k == streamBatches - 1) {
          lastStream = IcebergInterop.readIceberg(spark, s"$dir/corpus").select("id")
            .collect().map(_.getLong(0)).toSeq
          checkStream(lastStream)
        }
      }
    } finally q.stop()
  }

  def selfCheck(): Seq[String] = Seq(
    "exact survivors with one survivor missing" -> Check.rejects(checkExact(lastExact.drop(1))),
    "near-dup pairs with one planted pair missing" ->
      Check.rejects(checkPairs(lastPairs.filterNot(_ == nearPairs.head))),
    "streamed corpus with one original missing" ->
      Check.rejects(checkStream(lastStream.filterNot(_ == lastStream.min))),
  ).collect { case (what, false) => what }
}
