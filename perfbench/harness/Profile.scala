package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Input statistics measured from the fixture tables by
  * `perfbench/profile_inputs.py` (committed under `perfbench/inputs`).
  * The generators draw every shape parameter they can from here, so the
  * seed picks rows of the measured distributions, not invented ones. */
final class Profile(json: JValue) {
  private def at(path: String): JValue = path.split('.').foldLeft(json)(_ \ _) match {
    case JNothing => throw new NoSuchElementException(s"input profile has no $path")
    case v => v
  }

  private def number(v: JValue): Double = v match {
    case JInt(x) => x.toDouble
    case JLong(x) => x.toDouble
    case JDouble(x) => x
    case JDecimal(x) => x.toDouble
    case other => throw new IllegalArgumentException(s"not a number: $other")
  }

  def num(path: String): Double = number(at(path))
  def str(path: String): String = at(path) match {
    case JString(s) => s
    case other => throw new IllegalArgumentException(s"$path is not a string: $other")
  }
  def list(path: String): IndexedSeq[Double] = at(path) match {
    case JArray(xs) => xs.map(number).toIndexedSeq
    case other => throw new IllegalArgumentException(s"$path is not a list: $other")
  }
  /** A measured categorical distribution: (value, count), by value. */
  def counts(path: String): IndexedSeq[(String, Double)] = at(path) match {
    case JObject(fs) => fs.map { case (k, v) => k -> number(v) }.sortBy(_._1).toIndexedSeq
    case other => throw new IllegalArgumentException(s"$path is not an object: $other")
  }
}

object Profile {
  def load(path: String): Profile = new Profile(JsonMethods.parse(
    new String(Files.readAllBytes(Paths.get(path)), StandardCharsets.UTF_8)))

  /** The value of the distribution `dist` at the uniform [0, 1) draw `u`. */
  def pick(u: Column, dist: Seq[(String, Double)]): Column = {
    val total = dist.map(_._2).sum
    val cum = dist.map(_._2).scanLeft(0.0)(_ + _).tail.map(_ / total)
    dist.zip(cum).init.foldRight(lit(dist.last._1)) { case (((v, _), c), rest) =>
      when(u < c, lit(v)).otherwise(rest)
    }
  }

  /** The value at the uniform [0, 1) draw `u` of the distribution whose
    * evenly spaced quantiles are `qs`, interpolated linearly. */
  def fromQuantiles(u: Column, qs: Seq[Double]): Column = {
    val pos = u * (qs.size - 1)
    val i = floor(pos).cast(IntegerType)
    val arr = array(qs.map(lit): _*)
    val lo = element_at(arr, i + 1)
    lo + (pos - i) * (element_at(arr, i + 2) - lo)
  }
}

/** Draws from a measured categorical distribution with a driver-side
  * random generator. */
final class Sampler[A](dist: Seq[(A, Double)]) {
  private val values = dist.map(_._1).toIndexedSeq
  private val cum = {
    val c = dist.map(_._2).scanLeft(0.0)(_ + _).tail
    c.map(_ / c.last).toArray
  }

  def apply(rng: scala.util.Random): A = {
    val i = java.util.Arrays.binarySearch(cum, rng.nextDouble())
    values(math.min(if (i >= 0) i + 1 else -i - 1, values.size - 1))
  }
}
