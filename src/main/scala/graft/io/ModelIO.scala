package graft.io

import graft.crf.{CrfConfig, CrfModel}
import com.fasterxml.jackson.databind.ObjectMapper
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** CRF model persistence as JSON — the engine's substitute for the reference's
  * joblib pickle (`/root/reference/spacy_crfsuite/crf_extractor.py:96-134`).
  * A model file is self-contained: config + label dictionary + sparse state
  * weights + dense transitions. Read once on the driver, broadcast to
  * executors. */
object ModelIO {

  def save(model: CrfModel, path: String): Unit = {
    val p = Paths.get(path)
    if (p.getParent != null) Files.createDirectories(p.getParent)
    Files.writeString(p, json(model))
  }

  def json(model: CrfModel): String = {
    val sb = new StringBuilder(1 << 20)
    sb.append("{\"labels\":[")
    sb.append(model.labels.map(jstr).mkString(","))
    sb.append("],\"config\":{")
    sb.append("\"bilou\":").append(model.config.bilou)
    sb.append(",\"algorithm\":").append(jstr(model.config.algorithm))
    sb.append(",\"maxIter\":").append(model.config.maxIter)
    sb.append(",\"c1\":").append(model.config.c1)
    sb.append(",\"c2\":").append(model.config.c2)
    sb.append(",\"allPossibleTransitions\":").append(model.config.allPossibleTransitions)
    sb.append(",\"minFreq\":").append(model.config.minFreq)
    sb.append(",\"allPossibleStates\":").append(model.config.allPossibleStates)
    sb.append(",\"useDenseFeatures\":").append(model.config.useDenseFeatures)
    sb.append(",\"denseFeaturesClsPooling\":").append(jstr(model.config.denseFeaturesClsPooling))
    sb.append(",\"features\":[")
    sb.append(model.config.features.map(fl => fl.map(jstr).mkString("[", ",", "]")).mkString(","))
    sb.append("]},\"transitions\":[")
    sb.append(model.transW.map(_.mkString("[", ",", "]")).mkString(","))
    sb.append("],\"states\":{")
    var first = true
    for ((attr, ws) <- model.stateW) {
      if (!first) sb.append(',')
      first = false
      sb.append(jstr(attr)).append(":[").append(ws.mkString(",")).append("]")
    }
    sb.append("}}")
    sb.result()
  }

  def load(path: String): CrfModel = parse(Files.readString(Paths.get(path)))

  def parse(json: String): CrfModel = {
    val root = new ObjectMapper().readTree(json)
    val labels = root.get("labels").elements().asScala.map(_.asText()).toIndexedSeq
    val cfgN = root.get("config")
    val config = CrfConfig(
      bilou = cfgN.get("bilou").asBoolean(),
      features = cfgN.get("features").elements().asScala
        .map(_.elements().asScala.map(_.asText()).toIndexedSeq).toIndexedSeq,
      algorithm = cfgN.get("algorithm").asText(),
      maxIter = cfgN.get("maxIter").asInt(),
      c1 = cfgN.get("c1").asDouble(),
      c2 = cfgN.get("c2").asDouble(),
      allPossibleTransitions = cfgN.get("allPossibleTransitions").asBoolean(),
      // absent in older model files → the reference defaults
      minFreq = if (cfgN.has("minFreq")) cfgN.get("minFreq").asDouble() else 0.0,
      allPossibleStates =
        if (cfgN.has("allPossibleStates")) cfgN.get("allPossibleStates").asBoolean() else false,
      useDenseFeatures =
        if (cfgN.has("useDenseFeatures")) cfgN.get("useDenseFeatures").asBoolean() else false,
      denseFeaturesClsPooling =
        if (cfgN.has("denseFeaturesClsPooling")) cfgN.get("denseFeaturesClsPooling").asText()
        else "mean")
    val trans = root.get("transitions").elements().asScala
      .map(row => row.elements().asScala.map(_.asDouble()).toArray).toArray
    val states = root.get("states").fields().asScala.map { e =>
      e.getKey -> e.getValue.elements().asScala.map(_.asDouble()).toArray
    }.toMap
    CrfModel(labels, states, trans, config)
  }

  /** `s` as a JSON string literal. */
  private[graft] def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
