package graft.ml

import org.apache.spark.ml.param._
import org.apache.spark.ml.util.MLReader
import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

/**
 * Shared save/load plumbing for the graft.ml Estimator layer — the
 * `model.save(path)` / `Model.load(path)` surface a reference user
 * migrating `fit`/`transform` code eventually reaches for (reference
 * `RecommenderInterface.scala:27-51`).
 *
 * Layout per model directory: `metadata.json` (class, uid, every
 * scalar Param, plus model-specific extras like the SOM weight grid)
 * and one parquet subdirectory per DataFrame the model holds
 * (`train/`, `features/`, nested child models under `childA/`…).
 * Metadata rides the Hadoop FileSystem API, not java.nio — model
 * paths on a real cluster are HDFS/S3 URIs, and the parquet parts
 * already go through the same FS.
 */
private[ml] object GraftMLIO {

  val META_FILE = "metadata.json"

  private def fs(p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(SparkSession.active.sparkContext.hadoopConfiguration)

  /** Every set-or-defaulted scalar Param as a JSON field. Only
    * primitive param types exist in this package; anything else is a
    * bug worth failing on at save time, not load time. */
  def paramsJson(m: Params): JObject = JObject(m.params.toList.flatMap { p =>
    val v = if (m.isSet(p)) Some(m.getOrDefault(p))
            else m.getDefault(p)
    v.map {
      case b: Boolean => p.name -> (JBool(b): JValue)
      case i: Int => p.name -> (JInt(i): JValue)
      case l: Long => p.name -> (JInt(l): JValue)
      case d: Double => p.name -> (JDouble(d): JValue)
      case s: String => p.name -> (JString(s): JValue)
      // StringArrayParam (the r12 periodRanges encoding) — a fitted
      // ranges-mode SequentialRecommenderModel must save, not throw
      case a: Array[String] =>
        p.name -> (JArray(a.toList.map(JString(_))): JValue)
      case other => throw new IllegalArgumentException(
        s"unserializable param ${p.name}: ${other.getClass}")
    }
  })

  /** Restore saved params onto a freshly constructed instance, coerced
    * by the declared param type (json4s reads every integer as
    * BigInt). Unknown names fail loudly — a metadata/class mismatch. */
  def applyParams(m: Params, fields: List[JField]): Unit =
    fields.foreach { case (name, v) =>
      val p: Param[_] = m.getParam(name)
      (p, v) match {
        case (ip: IntParam, JInt(x)) => m.set(ip, x.toInt)
        case (lp: LongParam, JInt(x)) => m.set(lp, x.toLong)
        case (dp: DoubleParam, JDouble(x)) => m.set(dp, x)
        case (dp: DoubleParam, JInt(x)) => m.set(dp, x.toDouble)
        case (bp: BooleanParam, JBool(x)) => m.set(bp, x)
        case (ap: StringArrayParam, JArray(xs)) =>
          m.set(ap, xs.map { case JString(x) => x
            case o => throw new IllegalArgumentException(
              s"non-string element in array param $name: $o") }.toArray)
        case (sp, JString(x)) => m.set(sp.asInstanceOf[Param[String]], x)
        case _ => throw new IllegalArgumentException(
          s"cannot restore param $name from $v")
      }
    }

  def writeMeta(path: String, className: String, uid: String,
                params: JObject, extra: JObject = JObject()): Unit = {
    val json = JObject(List[JField](
      "class" -> JString(className),
      "uid" -> JString(uid),
      "params" -> params) ++ extra.obj)
    val hp = new org.apache.hadoop.fs.Path(path, META_FILE)
    val out = fs(hp).create(hp, true)
    try out.write(JsonMethods.compact(JsonMethods.render(json))
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** (className, uid, param fields, full metadata object). */
  def readMeta(path: String): (String, String, List[JField], JObject) = {
    val hp = new org.apache.hadoop.fs.Path(path, META_FILE)
    val in = fs(hp).open(hp)
    val txt = try {
      val bos = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      Iterator.continually(in.read(buf)).takeWhile(_ >= 0)
        .foreach(n => bos.write(buf, 0, n))
      bos.toString(java.nio.charset.StandardCharsets.UTF_8)
    } finally in.close()
    val j = JsonMethods.parse(txt).asInstanceOf[JObject]
    val cls = (j \ "class").asInstanceOf[JString].s
    val uid = (j \ "uid").asInstanceOf[JString].s
    val params = (j \ "params").asInstanceOf[JObject].obj
    (cls, uid, params, j)
  }

  /** The reader of a model that restores its saved params: `make`
    * builds the instance from (session, path, uid, full metadata
    * object), then every param in the metadata is set on it. */
  def reader[M <: Params](make: (SparkSession, String, String, JObject) => M)
  : MLReader[M] = new MLReader[M] {
    override def load(path: String): M = {
      val (_, uid, params, meta) = readMeta(path)
      val m = make(sparkSession, path, uid, meta)
      applyParams(m, params)
      m
    }
  }

  def subPath(path: String, name: String): String =
    new org.apache.hadoop.fs.Path(path, name).toString

  /** Dispatch loader for nested child models (the hybrid's children):
    * the metadata's class field picks the reader. */
  def loadChild(path: String): org.apache.spark.ml.Model[_] = {
    val (cls, _, _, _) = readMeta(path)
    cls match {
      case "graft.ml.KnnRecommenderModel" => KnnRecommenderModel.load(path)
      case "graft.ml.ContentKnnRecommenderModel" => ContentKnnRecommenderModel.load(path)
      case "graft.ml.AlsRecommenderModel" => AlsRecommenderModel.load(path)
      case "graft.ml.SOMModel" => SOMModel.load(path)
      case "graft.ml.SequentialRecommenderModel" =>
        SequentialRecommenderModel.load(path)
      // a nested hybrid (hybrid-of-hybrids) saves fine — its write path
      // only requires MLWritable children — so the loader must accept it
      // too, or the asymmetry surfaces as a post-write load failure
      case "graft.ml.HybridRecommenderModel" => HybridRecommenderModel.load(path)
      case other => throw new IllegalArgumentException(
        s"unknown child model class $other at $path")
    }
  }
}
