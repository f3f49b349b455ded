package graftbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** A generator's JSON side file (`meta.json`, `planted.json`). */
final class Meta(root: JsonNode) {
  def str(k: String): String = root.get(k).asText()
  def long(k: String): Long = root.get(k).asLong()
  def strs(k: String): Seq[String] = root.get(k).elements().asScala.map(_.asText()).toSeq
  def longs(k: String): Seq[Long] = root.get(k).elements().asScala.map(_.asLong()).toSeq
  def longss(k: String): Seq[Seq[Long]] =
    root.get(k).elements().asScala.map(_.elements().asScala.map(_.asLong()).toSeq).toSeq
}

object Meta {
  def read(path: String): Meta = new Meta(new ObjectMapper().readTree(new java.io.File(path)))
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n == 0) Double.NaN else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}
