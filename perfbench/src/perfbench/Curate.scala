package perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators.{Curation, Dedup}
import graft.synth.DocGen

/** `curate`: one batch job over DocGen documents — `Curation.curate`
  * followed by `Dedup.nearDuplicates` on the kept documents. It is the
  * only workload that runs Dedup, TextAnalysis, Curation and the
  * text-hash kernels. */
final class Curate(ctx: Ctx) extends Workload {
  private val spark = ctx.spark
  val docs = 1200L
  val benchDocs = 20
  val readsPerPass = 3
  private val exactFrom = docs * 8 / 10
  private val nearFrom = docs * 9 / 10
  private val benchFrom = docs / 2 + 1

  private var staged = ""
  private var pass = 0
  private var lastOut = ""
  private val candidates = ArrayBuffer[Double]()

  private val syllables = for (c <- "bcdfghjklmnprstvz"; v <- "aeiou") yield s"$c$v"

  /** Seeded token remap over DocGen text that keeps its planted
    * structure: each token maps to one pseudo-word (so exact copies stay
    * exact and near copies differ in their first word only), and the
    * words are laid out as sentences "the a b c of d e f." one per line,
    * so the documents are prose the curation rules can keep. */
  private def remap(text: Column): Column = {
    val syl = array(syllables.map(lit): _*)
    def part(h: Column, shift: Int) =
      element_at(syl, (pmod(shiftright(h, shift), lit(syllables.size.toLong)) + 1).cast("int"))
    val words = transform(split(text, " "), t => {
      val h = xxhash64(t, lit(ctx.seed))
      when(t === "wFLIP", lit("zyzzyx")).otherwise(concat(part(h, 0), part(h, 12), part(h, 24)))
    })
    val sentences = transform(sequence(lit(0), ((size(words) + 5) / 6).cast("int") - 1), s =>
      concat(array_join(concat(array(lit("the")), slice(words, s * 6 + 1, lit(3)),
        array(lit("of")), slice(words, s * 6 + 4, lit(3))), " "), lit(".")))
    array_join(sentences, "\n")
  }

  private def corpus: DataFrame = spark.read.parquet(s"$staged/docs")
  private def bench: DataFrame = spark.read.parquet(s"$staged/bench")

  def setup(rep: Int): Unit = {
    Fs.deleteTree(ctx.dir("curate"))
    staged = ctx.dir(s"curate/staged_$rep")
    val all = DocGen.documents(spark, docs, partitions = ctx.cores)
      .select(col("doc_id"), remap(col("text")).as("text"))
    all.write.parquet(s"$staged/docs")
    corpus.where(col("doc_id") >= benchFrom && col("doc_id") < benchFrom + benchDocs)
      .select("text").write.parquet(s"$staged/bench")
  }

  def warmup(): Unit = runPass()

  private def audit(out: String) = s"$out/audit"

  /** One pass; returns (pipeline seconds, seconds of each read). */
  private def runPass(): (Double, Seq[Double]) = {
    ctx.span("bench", "cleanup")(if (lastOut.nonEmpty) Fs.deleteTree(lastOut))
    pass += 1
    val out = ctx.dir(s"curate/pass_$pass")
    val t0 = System.nanoTime()
    ctx.span("curation", "curate") {
      Curation.curate(corpus, bench, maxLineDocFreq = 3, minSentences = 3, minWords = 20)
        .write.parquet(audit(out))
    }
    val kept = spark.read.parquet(audit(out)).where(col("keep") === 1).select("doc_id", "text")
    ctx.span("dedup", "near_dups")(Dedup.nearDuplicates(kept).write.parquet(s"$out/near"))
    val pipeS = (System.nanoTime() - t0) / 1e9
    lastOut = out
    if (ctx.tracer.enabled) ctx.span("dedup", "candidates") {
      candidates += Dedup.minhashLsh(kept, k = 32, bands = 16).count().toDouble
    }
    val readS = (1 to readsPerPass).map { _ =>
      val r0 = System.nanoTime()
      ctx.span("curation", "read")(ctx.force(kept))
      (System.nanoTime() - r0) / 1e9
    }
    (pipeS, readS)
  }

  def measure(seconds: Double): Phase = {
    val work = ArrayBuffer[Work]()
    val lat, reads = ArrayBuffer[Sample]()
    ctx.repeat(seconds) {
      val traced = ctx.tracer.enabled
      val t0 = System.nanoTime()
      ctx.span("loop", "pass")(ctx.op("curate pass")(runPass())).foreach { case (pipeS, readS) =>
        work += Work(traced, docs.toDouble, pipeS)
        lat += Sample(traced, (System.nanoTime() - t0) / 1e9)
        reads ++= readS.map(Sample(traced, _))
      }
      true
    }
    val rows = spark.read.parquet(audit(lastOut)).count()
    val verified = spark.read.parquet(s"$lastOut/near").count().toDouble
    val layer =
      if (candidates.isEmpty) Map.empty[String, Double]
      else Map("dedup.candidate_pairs" -> candidates.last,
        "dedup.verified_ratio" -> verified / math.max(1.0, candidates.last))
    Phase(work.toSeq, lat.toSeq, reads.toSeq, Fs.bytes(audit(lastOut)).toDouble / rows, layer)
  }

  def check(): Unit = {
    val a = spark.read.parquet(audit(lastOut))
    val near = spark.read.parquet(s"$lastOut/near")
    val plain = (c: Column) => c % 500 =!= 0
    val orig = a.select(col("doc_id").as("o"), col("keep").as("o_keep"),
      col("dedup_keep").as("o_dedup"),
      (col("url_keep") === 1 && col("c4_keep") === 1 && col("gopher_keep") === 1).as("o_pass"))

    val exact = orig.join(a.select(col("doc_id").as("x"), col("keep").as("x_keep"),
        col("dedup_keep").as("x_dedup")), col("x") === col("o") + exactFrom)
      .where(col("o") < docs / 10 && plain(col("o")) && plain(col("x")))
    ctx.check("curate drops every planted exact duplicate") {
      exact.where(col("x_keep") =!= 0).isEmpty &&
        exact.where(col("o_pass") && !(col("o_dedup") === 1 && col("x_dedup") === 0)).isEmpty &&
        exact.where(col("o_pass")).count() >= exact.count() * 9 / 10
    }

    val pairs = orig.join(a.select(col("doc_id").as("y"), col("keep").as("y_keep")),
        col("y") === col("o") + nearFrom)
      .where(col("o") < docs / 10 && plain(col("o")) && plain(col("y")) &&
        col("o_keep") === 1 && col("y_keep") === 1)
    ctx.check("curate finds every planted near-duplicate pair") {
      pairs.join(near, col("doc_a") === col("o") && col("doc_b") === col("y"), "left_anti").isEmpty &&
        pairs.count() >= (docs / 10) * 9 / 10
    }
    ctx.check("curate drops the documents of the evaluation set") {
      a.where(col("doc_id") >= benchFrom && col("doc_id") < benchFrom + benchDocs &&
        col("keep") =!= 0).isEmpty
    }
  }
}
