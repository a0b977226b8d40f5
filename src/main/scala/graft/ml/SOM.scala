package graft.ml

import org.apache.spark.ml.{Estimator, Model}
import org.apache.spark.ml.param._
import org.apache.spark.ml.util.{Identifiable, MLReadable, MLReader, MLWritable, MLWriter}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
import graft.functions.VectorFns.sqDistArr

/**
 * Batch Self-Organizing Map — the one genuinely custom reference
 * component (reference SequentialTopKRecommender.scala:403-416 trains
 * `new SOM().setMaxIter(5).setHeight(h).setWidth(w).setSeed(42L)` from
 * the public sparkml-som package), rebuilt from the published batch-SOM
 * algorithm (Kohonen's batch update): neurons sit on an h×w grid; each
 * epoch assigns every point to its best-matching unit (BMU, nearest
 * neuron by squared L2), then every neuron re-centers to the
 * neighborhood-weighted mean of ALL points,
 * wⱼ ← Σ_b h(b,j)·S_b / Σ_b h(b,j)·n_b, with Gaussian neighborhood
 * h(b,j) = exp(−d²grid(b,j)/2σ²) and σ decaying geometrically from
 * max(h,w)/2 to 0.5 across epochs.
 *
 * Scale posture: the per-point BMU assignment is a single narrow
 * codegen'd argmin expression over neuron-literal distances — no join,
 * no shuffle; the epoch update aggregates ONE (sum-vector, count) pair
 * per neuron in a single keyed agg and single action (posexplode,
 * k·dim rows), and only that k×dim summary ever reaches the driver,
 * where the k×k neighborhood mixing is trivial. Points are
 * never collected — unlike the reference's densified
 * `_transactionArray`. Features are `array<double>` columns (the
 * repo-wide vector convention).
 */
class SOM(override val uid: String) extends Estimator[SOMModel] {

  def this() = this(Identifiable.randomUID("som"))

  final val height = new IntParam(this, "height", "grid height", ParamValidators.gt(0))
  final val width = new IntParam(this, "width", "grid width", ParamValidators.gt(0))
  final val maxIter = new IntParam(this, "maxIter", "epochs", ParamValidators.gtEq(0))
  final val seed = new LongParam(this, "seed", "init RNG seed")
  final val featuresCol = new Param[String](this, "featuresCol", "array<double> input column")
  final val predictionCol = new Param[String](this, "predictionCol", "BMU output column")
  setDefault(height -> 2, width -> 2, maxIter -> 5, seed -> 42L,
    featuresCol -> "features", predictionCol -> "prediction")

  def setHeight(v: Int): this.type = set(height, v)
  def setWidth(v: Int): this.type = set(width, v)
  def setMaxIter(v: Int): this.type = set(maxIter, v)
  def setSeed(v: Long): this.type = set(seed, v)
  def setFeaturesCol(v: String): this.type = set(featuresCol, v)
  def setPredictionCol(v: String): this.type = set(predictionCol, v)

  override def fit(dataset: Dataset[_]): SOMModel = {
    val df = dataset.toDF()
    val dim = df.select(size(col($(featuresCol)))).head().getInt(0)
    val h = $(height); val w = $(width); val k = h * w
    val rnd = new scala.util.Random($(seed))
    var weights: Array[Array[Double]] = Array.fill(k)(Array.fill(dim)(rnd.nextDouble()))

    val sigma0 = math.max(h, w) / 2.0
    val sigmaEnd = 0.5
    def gridD2(a: Int, b: Int): Double = {
      val (ra, ca) = (a / w, a % w); val (rb, cb) = (b / w, b % w)
      (ra - rb) * (ra - rb) + (ca - cb) * (ca - cb)
    }

    for (it <- 0 until $(maxIter)) {
      val sigma =
        if ($(maxIter) <= 1 || sigma0 <= sigmaEnd) math.max(sigma0, sigmaEnd)
        else sigma0 * math.pow(sigmaEnd / sigma0, it.toDouble / ($(maxIter) - 1))
      val assigned = SOM.assignBmu(df, weights, $(featuresCol), "bmu")
      // one (Σx, n) summary per neuron — k·dim rows, the ONLY driver
      // fetch, and the epoch's ONLY action: counts ride the same keyed
      // agg as the sums (each row contributes once to every pos), so
      // the BMU pass is never executed twice
      val rows = assigned.select(col("bmu"), posexplode(col($(featuresCol))))
        .groupBy(col("bmu"), col("pos"))
        .agg(sum(col("col")).as("s"), count(lit(1)).as("n"))
        .collect()
      val sums = rows.map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(2))).toMap
      val counts = rows.filter(_.getInt(1) == 0).map(r => (r.getInt(0), r.getLong(3))).toMap
      // k×k Gaussian neighborhood mixing, driver-side
      weights = Array.tabulate(k) { j =>
        val hs = (0 until k).map(b => b -> math.exp(-gridD2(b, j) / (2.0 * sigma * sigma)))
        val den = hs.map { case (b, hw) => hw * counts.getOrElse(b, 0L) }.sum
        if (den == 0.0) weights(j)
        else Array.tabulate(dim) { p =>
          hs.map { case (b, hw) => hw * sums.getOrElse((b, p), 0.0) }.sum / den
        }
      }
    }
    val model = new SOMModel(uid, weights)
    copyValues(model.setParent(this))
  }

  override def copy(extra: ParamMap): SOM = defaultCopy(extra)
  override def transformSchema(schema: StructType): StructType =
    StructType(schema.fields :+ StructField($(predictionCol), IntegerType, nullable = false))
}

object SOM {
  /** BMU assignment: the neuron grid is driver-side and tiny (h·w
    * vectors), so the argmin is ONE narrow codegen'd expression — an
    * array of native `sqDistArr` distances to each neuron literal,
    * `array_position(of the array_min)` picking the winner (first
    * occurrence ⇒ lowest neuron id on ties, the deterministic
    * tie-break). No join, no shuffle, no per-row window — appends
    * `out` to `df`. */
  private[ml] def assignBmu(df: DataFrame, weights: Array[Array[Double]],
                            features: String, out: String): DataFrame = {
    val d2s = array(weights.map(nw =>
      sqDistArr(col(features), typedLit(nw.toSeq))): _*)
    df.withColumn("__d2s", d2s)
      .withColumn(out,
        (array_position(col("__d2s"), array_min(col("__d2s"))) - 1)
          .cast(IntegerType))
      .drop("__d2s")
  }
}

/** Fitted SOM: the h×w neuron weight grid; `transform` appends the BMU
  * index (row-major neuron id) as the prediction column. */
class SOMModel private[ml] (override val uid: String,
                            val weights: Array[Array[Double]])
    extends Model[SOMModel] with MLWritable {

  /** The weight grid rides the metadata JSON itself (h·w·dim doubles
    * — a few KB at any sane grid; jackson's double round-trip is
    * exact), so a SOM save is one small file, no parquet job. */
  override def write: MLWriter = new MLWriter {
    override protected def saveImpl(path: String): Unit = {
      import org.json4s._
      GraftMLIO.writeMeta(path, "graft.ml.SOMModel", uid,
        GraftMLIO.paramsJson(SOMModel.this),
        JObject(List[JField]("weights" -> JArray(weights.toList.map(row =>
          JArray(row.toList.map(JDouble(_): JValue)))))))
    }
  }

  final val featuresCol = new Param[String](this, "featuresCol", "array<double> input column")
  final val predictionCol = new Param[String](this, "predictionCol", "BMU output column")
  setDefault(featuresCol -> "features", predictionCol -> "prediction")
  def setFeaturesCol(v: String): this.type = set(featuresCol, v)
  def setPredictionCol(v: String): this.type = set(predictionCol, v)

  override def transform(dataset: Dataset[_]): DataFrame =
    SOM.assignBmu(dataset.toDF(), weights, $(featuresCol), $(predictionCol))

  override def copy(extra: ParamMap): SOMModel =
    copyValues(new SOMModel(uid, weights), extra).setParent(parent)
  override def transformSchema(schema: StructType): StructType =
    StructType(schema.fields :+ StructField($(predictionCol), IntegerType, nullable = false))
}

object SOMModel extends MLReadable[SOMModel] {
  override def read: MLReader[SOMModel] = GraftMLIO.reader { (_, _, uid, meta) =>
    import org.json4s._
    val weights = (meta \ "weights").asInstanceOf[JArray].arr.map { row =>
      row.asInstanceOf[JArray].arr.map {
        case JDouble(d) => d
        case JInt(i) => i.toDouble
        case other => throw new IllegalArgumentException(s"bad weight $other")
      }.toArray
    }.toArray
    new SOMModel(uid, weights)
  }
}
