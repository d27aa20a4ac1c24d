package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product quantization — the memory-compression half of IVF-PQ ANN.
  *
  * The embedding dimension is split into `m` subspaces; each subspace gets
  * its own k-entry codebook (deterministic [[Similarity.kmeansFit]] on the
  * sliced vectors, so training is RNG-free and reproducible); every vector
  * is then encoded as `m` small integer codes — at m=8, k=16 a 64-dim
  * float vector (256 B) becomes 8 codes (≤8 B): a 32× scan-side
  * compression, which is the entire point at 100 TB where the float
  * vectors cannot stay hot.
  *
  * Query scoring is ADC (asymmetric distance computation): per query the
  * m×k table of partial squared distances (query slice ↔ codebook entry)
  * is computed ONCE driver-side — m·k·subDim flops, independent of corpus
  * size — and shipped as a nested literal array; each corpus row's
  * approximate distance is then `m` array lookups + adds inside
  * whole-stage codegen. No float vector is read at query time. The
  * shortlist is re-ranked with exact cosine against the full vectors
  * (standard PQ practice: approximate to prune, exact to rank).
  */
object ProductQuant {

  /** Per-subspace codebooks: m × k × subDim. */
  final case class PQModel(m: Int, k: Int, subDim: Int,
                           codebooks: Seq[Seq[Seq[Double]]])

  /** Unit-normalize (float-typed so the k-means trainer's float path is
    * untouched): for cosine ANN, PQ must quantize DIRECTIONS — on the unit
    * sphere, L2 order ≡ cosine order (‖a−b‖² = 2−2cos), so the ADC
    * shortlist ranks by the same metric the re-rank scores. Zero vectors
    * pass through (they cosine 0 against everything anyway). */
  private def normalizedVec(vecCol: Column): Column = {
    val nrm = graft.functions.VectorFunctions.norm(vecCol)
    when(nrm === 0.0, vecCol)
      .otherwise(transform(vecCol, x => (x.cast("double") / nrm).cast("float")))
  }

  /** Train one deterministic codebook per subspace (on normalized vectors).
    * All `m` trainings run as ONE grouped job chain
    * ([[Similarity.kmeansFitGrouped]] over posexploded slices — same math,
    * 1/m-th the blocking driver round-trips). */
  def train(corpus: DataFrame, idCol: String, vecCol: String,
            m: Int, k: Int, iters: Int): PQModel = {
    val head = corpus.select(size(col(vecCol)).as("n")).head(1)
    require(head.nonEmpty, "cannot train PQ on an empty corpus")
    val dim = head(0).getInt(0)
    require(dim % m == 0, s"dim $dim must divide into $m subspaces")
    val subDim = dim / m
    val normed = corpus.select(col(idCol).as("id"),
      normalizedVec(col(vecCol)).as("nvec"))
    val sliced = normed.select(col("id"), posexplode(
        array((0 until m).map(j => slice(col("nvec"), j * subDim + 1, subDim)): _*))
      .as(Seq("grp", "vec")))
    val trained = Similarity.kmeansFitGrouped(sliced, "grp", "id", "vec", k, iters)
    PQModel(m, k, subDim, (0 until m).map(trained(_)))
  }

  /** Squared distance between a sliced vector and a codebook entry, as a
    * sequential fold (same fp order as the k-means trainer). */
  private def sqDist(vecSlice: Column, cent: Seq[Double]): Column =
    aggregate(
      zip_with(vecSlice, array(cent.map(lit): _*), (x, c) => {
        val d = x.cast("double") - c
        d * d
      }),
      lit(0.0), (acc, v) => acc + v)

  /** Encode each vector as its per-subspace nearest-codebook-entry indices:
    * (id, codes array<int>). Ties break to the lower code — same rule as
    * the trainer's cell assignment. Pure map-side projection. */
  def encode(corpus: DataFrame, idCol: String, vecCol: String,
             model: PQModel): DataFrame = {
    val codes = (0 until model.m).map { j =>
      val vs = slice(col("__nvec"), j * model.subDim + 1, model.subDim)
      val scored = array(model.codebooks(j).zipWithIndex.map { case (c, i) =>
        struct(sqDist(vs, c).as("d"), lit(i).as("cid"))
      }: _*)
      array_min(scored).getField("cid")
    }
    corpus
      .withColumn("__nvec", normalizedVec(col(vecCol)))
      .select(col(idCol).as("id"), array(codes: _*).as("codes"))
  }

  /** IVF-PQ index: coarse router cells + per-vector PQ codes, built once
    * and reused across queries. `cells` is (id, vec, cell) — the vec
    * rides along map-side from the assignment (consumers select what
    * they need); `encoded` is (id, codes); `centroids` the coarse k×dim
    * matrix. */
  final case class IvfPqIndex(model: PQModel, centroids: Seq[Seq[Double]],
                              cells: DataFrame, encoded: DataFrame)

  /** Build the composed index: a coarse k-means router over the normalized
    * vectors plus PQ codes for every vector. Both trainings are the same
    * deterministic Lloyd's — no RNG anywhere in the index. */
  def buildIvfPq(corpus: DataFrame, idCol: String, vecCol: String,
                 coarseK: Int, m: Int, k: Int, iters: Int): IvfPqIndex = {
    val normed = corpus.select(col(idCol).as("id"),
      normalizedVec(col(vecCol)).as("nvec"))
    val (cells, cents) = Similarity.kmeansFit(normed, "id", "nvec", coarseK, iters)
    val model = train(corpus, idCol, vecCol, m, k, iters)
    IvfPqIndex(model, cents, cells, encode(corpus, idCol, vecCol, model))
  }

  /** IVF-PQ top-`n`: route the query to its `nprobe` nearest coarse cells,
    * ADC-score ONLY those cells' codes, re-rank the shortlist exactly.
    * The two pruning levers compose: IVF bounds which rows are scored at
    * all (~nprobe/coarseK of the corpus), PQ bounds what scoring a row
    * costs (m lookups, no float reads) — together that is the standard
    * billion-scale ANN serving layout, here in pure DataFrame ops.
    * (Refinement not implemented: classic IVF-PQ quantizes residuals
    * v − centroid; these codes quantize the normalized vectors directly —
    * simpler, measured recall in ProductQuantSpec.) */
  def ivfPqTopK(index: IvfPqIndex, corpus: DataFrame, idCol: String,
                vecCol: String, query: Array[Float], n: Int,
                nprobe: Int, shortlist: Int = 0): DataFrame = {
    val rawNorm = math.sqrt(query.map(x => x.toDouble * x.toDouble).sum)
    val qn = if (rawNorm == 0.0) query.map(_.toDouble)
             else query.map(_ / rawNorm).map(_.toDouble)
    val probed = index.centroids.zipWithIndex.map { case (c, i) =>
      var s = 0.0
      var d = 0
      while (d < c.length) { val diff = qn(d) - c(d); s += diff * diff; d += 1 }
      (s, i)
    }.sorted.take(nprobe).map(_._2)
    val routed = index.encoded.join(
      index.cells.filter(col("cell").isin(probed: _*)).select("id"), "id")
    adcTopK(routed, corpus, idCol, vecCol, index.model, query, n, shortlist)
  }

  /** Residual IVF-PQ index: PQ codes quantize `r = nvec − centroid(cell)`
    * instead of the vector itself — the classic recall improvement
    * (residuals cluster around 0 with far less variance than raw
    * directions, so the same m×k codebook budget spends its resolution on
    * the part the coarse router hasn't already explained).
    * `encoded` carries (id, cell, codes) — cell must ride along because
    * decoding/scoring is relative to the cell's centroid. */
  final case class IvfPqResidualIndex(model: PQModel, centroids: Seq[Seq[Double]],
                                      encoded: DataFrame)

  /** Build the residual index. Everything is map-side against literal
    * centroid matrices: cell = argmin‖nvec − cᵢ‖ (same struct-argmin as
    * the trainer's final assignment), residual = nvec − c_cell via one
    * `zip_with` against `element_at(centroids, cell+1)`, then m
    * deterministic codebook trainings on the residual slices. No join, no
    * exchange anywhere in assignment/encoding — the index build reads the
    * corpus, shuffles only the k·dim-sized k-means state. */
  def buildIvfPqResidual(corpus: DataFrame, idCol: String, vecCol: String,
                         coarseK: Int, m: Int, k: Int, iters: Int): IvfPqResidualIndex = {
    val normed = corpus.select(col(idCol).as("id"),
      normalizedVec(col(vecCol)).as("nvec"))
    val (_, cents) = Similarity.kmeansFit(normed, "id", "nvec", coarseK, iters)
    val dim = cents.head.length
    require(dim % m == 0, s"dim $dim must divide into $m subspaces")
    val subDim = dim / m
    val scored = array(cents.zipWithIndex.map { case (c, i) =>
      struct(sqDist(col("nvec"), c).as("d"), lit(i).as("cid"))
    }: _*)
    val centsLit = array(cents.map(c => array(c.map(lit): _*)): _*)
    val withRes = normed
      .withColumn("cell", array_min(scored).getField("cid"))
      .withColumn("rvec", zip_with(col("nvec"), element_at(centsLit, col("cell") + 1),
        (x, c) => x.cast("double") - c))
    val sliced = withRes.select(col("id"), posexplode(
        array((0 until m).map(j => slice(col("rvec"), j * subDim + 1, subDim)): _*))
      .as(Seq("grp", "vec")))
    val trained = Similarity.kmeansFitGrouped(sliced, "grp", "id", "vec", k, iters)
    val books = (0 until m).map(trained(_))
    val model = PQModel(m, k, subDim, books)
    IvfPqResidualIndex(model, cents, encodeResidual(corpus, idCol, vecCol, cents, model))
  }

  /** Route + encode a vector set against a FROZEN residual index (coarse
    * centroids + codebooks given, nothing trained): (id, cell, codes).
    * Pure map-side — centroid/codebook literals, argmin structs, no
    * exchange — which is exactly why incremental index maintenance works:
    * encoding a batch now or re-encoding the union later lands identical
    * rows (see [[graft.streaming.AnnStream]]). */
  def encodeResidual(corpus: DataFrame, idCol: String, vecCol: String,
                     cents: Seq[Seq[Double]], model: PQModel): DataFrame = {
    val normed = corpus.select(col(idCol).as("id"),
      normalizedVec(col(vecCol)).as("nvec"))
    val scored = array(cents.zipWithIndex.map { case (c, i) =>
      struct(sqDist(col("nvec"), c).as("d"), lit(i).as("cid"))
    }: _*)
    val centsLit = array(cents.map(c => array(c.map(lit): _*)): _*)
    val withRes = normed
      .withColumn("cell", array_min(scored).getField("cid"))
      .withColumn("rvec", zip_with(col("nvec"), element_at(centsLit, col("cell") + 1),
        (x, c) => x.cast("double") - c))
    val codes = (0 until model.m).map { j =>
      val vs = slice(col("rvec"), j * model.subDim + 1, model.subDim)
      val sc = array(model.codebooks(j).zipWithIndex.map { case (c, i) =>
        struct(sqDist(vs, c).as("d"), lit(i).as("cid"))
      }: _*)
      array_min(sc).getField("cid")
    }
    withRes.select(col("id"), col("cell"), array(codes: _*).as("codes"))
  }

  /** Residual IVF-PQ top-`n`: route to `nprobe` cells, ADC-score each
    * probed cell with its OWN LUT (the query residual differs per cell —
    * that is the residual trade: nprobe small LUT builds instead of one),
    * exact cosine re-rank of the shortlist. */
  def ivfPqResidualTopK(index: IvfPqResidualIndex, corpus: DataFrame,
                        idCol: String, vecCol: String, query: Array[Float],
                        n: Int, nprobe: Int, shortlist: Int = 0): DataFrame = {
    val short = if (shortlist > 0) shortlist else 4 * n
    val rawNorm = math.sqrt(query.map(x => x.toDouble * x.toDouble).sum)
    val qn: Array[Double] =
      if (rawNorm == 0.0) query.map(_.toDouble) else query.map(_ / rawNorm)
    val probed = index.centroids.zipWithIndex.map { case (c, i) =>
      var s = 0.0
      var d = 0
      while (d < c.length) { val diff = qn(d) - c(d); s += diff * diff; d += 1 }
      (s, i)
    }.sorted.take(nprobe).map(_._2)
    val m = index.model.m
    val subDim = index.model.subDim
    // one m×k LUT per probed cell, from the query's residual wrt THAT cell
    val perCell = probed.map { cell =>
      val cent = index.centroids(cell)
      val qres = qn.indices.map(d => qn(d) - cent(d))
      val lut: Seq[Seq[Double]] = (0 until m).map { j =>
        index.model.codebooks(j).map { cb =>
          var s = 0.0
          var d = 0
          while (d < subDim) {
            val diff = qres(j * subDim + d) - cb(d)
            s += diff * diff
            d += 1
          }
          s
        }
      }
      val lutCol = array(lut.map(row => array(row.map(lit): _*)): _*)
      val approx = (0 until m).map { j =>
        element_at(element_at(lutCol, j + 1), element_at(col("codes"), j + 1) + 1)
      }.reduce(_ + _)
      index.encoded.filter(col("cell") === cell).withColumn("approx_dist", approx)
    }
    val candidates = perCell.reduce(_ unionByName _)
      .orderBy(col("approx_dist").asc, col("id").asc)
      .limit(short)
    val qArr = array(query.map(x => lit(x.toDouble)): _*)
    val qNorm = math.sqrt(query.map(x => x.toDouble * x.toDouble).sum)
    val nrm = graft.functions.VectorFunctions.norm(col("vec"))
    candidates
      .join(corpus.select(col(idCol).as("id"), col(vecCol).as("vec")), "id")
      .withColumn("cosine",
        when(nrm === 0.0 || lit(qNorm) === 0.0, lit(0.0))
          .otherwise(
            aggregate(zip_with(col("vec"), qArr, (x, q) => x.cast("double") * q),
              lit(0.0), (acc, v) => acc + v) / (nrm * lit(qNorm))))
      .orderBy(col("cosine").desc, col("id").asc)
      .limit(n)
      .select(col("id"), col("approx_dist"), col("cosine"))
  }

  /** ADC top-`n` for one query vector over an encoded corpus, re-ranked
    * exactly. `corpus` supplies the full vectors for the re-rank join —
    * only the `shortlist` rows (default 4·n) ever read them. */
  def adcTopK(encoded: DataFrame, corpus: DataFrame, idCol: String,
              vecCol: String, model: PQModel, query: Array[Float],
              n: Int, shortlist: Int = 0): DataFrame = {
    val short = if (shortlist > 0) shortlist else 4 * n
    // normalize the query the same way the corpus was encoded
    val rawNorm = math.sqrt(query.map(x => x.toDouble * x.toDouble).sum)
    val qn: Array[Float] =
      if (rawNorm == 0.0) query else query.map(x => (x / rawNorm).toFloat)
    // the m×k LUT: partial squared distance of the query's j-th slice to
    // codebook entry (j, c). Driver-side; m·k·subDim flops total.
    val lut: Seq[Seq[Double]] = (0 until model.m).map { j =>
      val qs = qn.slice(j * model.subDim, (j + 1) * model.subDim)
      model.codebooks(j).map { cent =>
        var s = 0.0
        var d = 0
        while (d < model.subDim) {
          val diff = qs(d).toDouble - cent(d)
          s += diff * diff
          d += 1
        }
        s
      }
    }
    val lutCol = array(lut.map(row => array(row.map(lit): _*)): _*)
    val approx = (0 until model.m).map { j =>
      element_at(element_at(lutCol, j + 1), element_at(col("codes"), j + 1) + 1)
    }.reduce(_ + _)
    val qArr = array(query.map(x => lit(x.toDouble)): _*)
    val qNorm = math.sqrt(query.map(x => x.toDouble * x.toDouble).sum)
    val candidates = encoded
      .withColumn("approx_dist", approx)
      .orderBy(col("approx_dist").asc, col("id").asc)
      .limit(short)
    val nrm = graft.functions.VectorFunctions.norm(col("vec"))
    candidates
      .join(corpus.select(col(idCol).as("id"), col(vecCol).as("vec")), "id")
      .withColumn("cosine",
        // zero-norm guard mirrors VectorFunctions.cosine (and the oracle's
        // CASE): a zero vector in the shortlist scores 0, not NaN
        when(nrm === 0.0 || lit(qNorm) === 0.0, lit(0.0))
          .otherwise(
            aggregate(zip_with(col("vec"), qArr, (x, q) => x.cast("double") * q),
              lit(0.0), (acc, v) => acc + v) / (nrm * lit(qNorm))))
      .orderBy(col("cosine").desc, col("id").asc)
      .limit(n)
      .select(col("id"), col("approx_dist"), col("cosine"))
  }

  // ───────────── on-disk index persistence (cross-session serve) ─────────────

  /** The residual IVF-PQ index as a VERSIONED on-disk layout, so a fresh
    * JVM serves without retraining (a production ANN service trains
    * offline, serves from the artifact):
    *
    * {{{
    *   <dir>/_CURRENT        ← "v<N>" (atomic pointer, FileContext rename)
    *   <dir>/v<N>/meta.json  ← m, k, subDim, coarse centroids, codebooks
    *   <dir>/v<N>/codes/     ← parquet (id, cell, codes) — the serving set
    * }}}
    *
    * Same commit protocol as the streaming state store: write the new
    * version dir fully, THEN swap the pointer — readers always see a
    * complete index, a crashed writer leaves the old version live.
    * Doubles round-trip exactly (Jackson prints shortest-round-trip
    * decimals), so a loaded index serves bit-identical results — which is
    * what the two-JVM smoke (`graft.tools.IvfPqSmoke`) asserts. */
  def saveResidualIndex(spark: org.apache.spark.sql.SparkSession,
                        index: IvfPqResidualIndex, dir: String): String = {
    import org.apache.hadoop.fs.Path
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // claim the version number with an EXCLUSIVE create of a _CLAIM marker
    // (create(overwrite = false) fails if present): two concurrent
    // publishers can no longer write the same v<N> dir and race the
    // pointer swap into a mixed artifact — the loser just claims the next
    // number. Last pointer swap wins, each pointing at a complete dir.
    var next = currentVersion(spark, dir).map(_ + 1).getOrElse(1)
    var claimed = false
    while (!claimed) {
      try {
        fs.create(new Path(root, s"v$next/_CLAIM"), false).close()
        claimed = true
      } catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => next += 1
        case e: java.io.IOException if e.getMessage != null &&
            e.getMessage.contains("already exists") => next += 1
      }
    }
    val vdir = new Path(root, s"v$next")
    graft.io.Writers.parquet(index.encoded, new Path(vdir, "codes").toString)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.createObjectNode()
    node.put("m", index.model.m)
    node.put("k", index.model.k)
    node.put("subDim", index.model.subDim)
    def arr2(parent: com.fasterxml.jackson.databind.node.ObjectNode,
             name: String, rows: Seq[Seq[Double]]): Unit = {
      val a = parent.putArray(name)
      rows.foreach { r => val ra = a.addArray(); r.foreach(ra.add) }
    }
    arr2(node, "centroids", index.centroids)
    val cbs = node.putArray("codebooks")
    index.model.codebooks.foreach { cb =>
      val ca = cbs.addArray()
      cb.foreach { r => val ra = ca.addArray(); r.foreach(ra.add) }
    }
    val out = fs.create(new Path(vdir, "meta.json"), true)
    try out.write(mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(node))
    finally out.close()
    // atomic pointer swap — the publish point
    graft.io.lake.VersionedDir.swap(spark.sparkContext.hadoopConfiguration, dir, s"v$next")
    vdir.toString
  }

  /** The published index version, or None before the first save. */
  def currentVersion(spark: org.apache.spark.sql.SparkSession, dir: String): Option[Int] =
    graft.io.lake.VersionedDir.current(spark.sparkContext.hadoopConfiguration, dir)
      .map(d => new org.apache.hadoop.fs.Path(d).getName.stripPrefix("v").toInt)

  /** Load the published index — NO training anywhere on this path: meta
    * is one small JSON read, codes are the parquet serving set. */
  def loadResidualIndex(spark: org.apache.spark.sql.SparkSession,
                        dir: String): IvfPqResidualIndex = {
    import org.apache.hadoop.fs.Path
    val v = currentVersion(spark, dir).getOrElse(
      throw new IllegalStateException(s"no published index under $dir"))
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(new Path(root, s"v$v/meta.json"))
    val json = try new String(
        org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
      finally in.close()
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    def toSeq2(n: com.fasterxml.jackson.databind.JsonNode): Seq[Seq[Double]] = {
      import scala.jdk.CollectionConverters._
      n.elements().asScala.map(row =>
        row.elements().asScala.map(_.asDouble).toSeq).toSeq
    }
    import scala.jdk.CollectionConverters._
    val codebooks = node.get("codebooks").elements().asScala.map(toSeq2).toSeq
    IvfPqResidualIndex(
      PQModel(node.get("m").asInt, node.get("k").asInt, node.get("subDim").asInt, codebooks),
      toSeq2(node.get("centroids")),
      spark.read.parquet(new Path(root, s"v$v/codes").toString))
  }
}
