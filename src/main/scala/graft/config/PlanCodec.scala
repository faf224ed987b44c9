package graft.config

import java.util.{Base64, List => JList, Map => JMap}
import org.yaml.snakeyaml.{LoaderOptions, Yaml}
import org.yaml.snakeyaml.constructor.SafeConstructor
import scala.jdk.CollectionConverters._

/** YAML → plan decode. The reference receives the plan as env var
  * `SPLIT_CONF` = base64(YAML) (reference main.go:289-305) and relies on
  * YAML anchors for extractor reuse (reference topic.yaml:4,23) — SnakeYAML
  * resolves anchors natively. Unknown fields (e.g. the reference's dead
  * `cloud:` key, topic.yaml:21) are ignored, matching the reference's
  * lenient decode.
  */
object PlanCodec {

  def fromBase64(b64: String): SpliterCollection =
    fromYaml(new String(Base64.getDecoder.decode(b64.trim.replaceAll("\\s", "")), "UTF-8"))

  def fromYaml(yaml: String): SpliterCollection = {
    val loader = new Yaml(new SafeConstructor(new LoaderOptions))
    // The reference doc starts with a lone `#` comment then `---`; SnakeYAML
    // loadAll handles multi-doc streams — take the first non-null doc.
    val docs = loader.loadAll(yaml).asScala.toSeq.filter(_ != null)
    val root = docs.headOption match {
      case Some(m: JMap[_, _]) => m.asInstanceOf[JMap[String, AnyRef]]
      case _ => throw new IllegalArgumentException("plan YAML: no mapping document")
    }
    val spliters = root.asScala.get("spliters_templates") match {
      case Some(l: JList[_]) => l.asScala.toSeq.map(s => decodeSpliter(asMap(s)))
      case _ => Seq.empty
    }
    SpliterCollection(spliters)
  }

  private def asMap(o: Any): Map[String, AnyRef] = o match {
    case m: JMap[_, _] =>
      m.asInstanceOf[JMap[AnyRef, AnyRef]].asScala.map { case (k, v) => (String.valueOf(k), v) }.toMap
    case other => throw new IllegalArgumentException(s"plan YAML: expected mapping, got $other")
  }

  private def str(m: Map[String, AnyRef], k: String): Option[String] =
    m.get(k).filter(_ != null).map(String.valueOf)

  private def decodeSpliter(m: Map[String, AnyRef]): Spliter = {
    val actions = m.get("actions") match {
      case Some(am: JMap[_, _]) =>
        am.asInstanceOf[JMap[AnyRef, AnyRef]].asScala
          .map { case (k, v) => (String.valueOf(k), String.valueOf(v)) }.toMap
      case _ => Map.empty[String, String]
    }
    val splits = m.get("splits") match {
      case Some(l: JList[_]) => l.asScala.toSeq.map(s => decodeSplit(asMap(s)))
      case _ => Seq.empty[Split]
    }
    Spliter(
      inputTopic = str(m, "input_topic").getOrElse(
        throw new IllegalArgumentException("spliter missing input_topic")),
      actions = actions,
      splits = splits,
    )
  }

  private def decodeSplit(m: Map[String, AnyRef]): Split = {
    val ex = m.get("extractor") match {
      case Some(em) =>
        val e = asMap(em)
        Extractor(
          pattern = str(e, "pattern").getOrElse(
            throw new IllegalArgumentException("extractor missing pattern")),
          useRegex = e.get("use_regex").exists {
            case b: java.lang.Boolean => b.booleanValue()
            case s => String.valueOf(s).toBoolean
          },
        )
      case None => throw new IllegalArgumentException("split missing extractor")
    }
    Split(ex, str(m, "output_topic"), str(m, "action"))
  }
}
