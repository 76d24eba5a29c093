package perfbench

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import scala.collection.immutable.ListMap

/** One address as the userAddress document stores it (the document drops
  * the redundant userId).
  */
final case class Addr(address: String, city: String, state: String, zipCode: String,
    country: String)

final case class UserRec(id: String, name: String, email: String, genre: String,
    registerMicros: Long)

/** One batch of wire messages. Each block is one user's addresses in this
  * batch; a block's addresses share one state and one country, so the
  * expected window counts do not depend on the order Spark gives them within
  * the batch.
  */
final case class Batch(users: Vector[UserRec], blocks: Vector[(String, Vector[Addr])]) {
  def messages: Long = users.size.toLong + blocks.iterator.map(_._2.size.toLong).sum
}

/** Seeded generator of the reference producer's wire format: flat JSON
  * users and addresses, `registerDate` with microseconds and a no-colon
  * UTC offset (`user-generator.py:22`). Independent of the program's own
  * fixture generator, so a program change cannot change the input.
  */
final class Generator(seed: Long) {
  private val rng = new java.util.SplittableRandom(seed)
  private var nextUser = 0L

  private val genres = Vector("M", "F", "O")
  private val states = Vector("Acre", "Alagoas", "Amapa", "Bahia", "Ceara", "Goias",
    "Maranhao", "Para", "Paraiba", "Parana", "Piaui", "Roraima", "Sergipe",
    "Tocantins", "Bavaria", "Hesse", "Kyoto", "Osaka", "Cusco", "Illinois")
  private val countries = Vector("Brazil", "Germany", "Japan", "Peru", "USA", "Chile")
  // 2026-01-01T00:00:00Z in microseconds
  private val baseMicros = 1767225600000000L

  private def uuid(): String = new java.util.UUID(rng.nextLong(), rng.nextLong()).toString

  def user(): UserRec = {
    val i = nextUser
    nextUser += 1
    UserRec(uuid(), s"User $i", s"user$i@example.org", genres(rng.nextInt(genres.size)),
      baseMicros + rng.nextLong(365L * 86400L * 1000000L))
  }

  /** `n` addresses of one user, sharing one state and one country. */
  def block(userId: String, n: Int): (String, Vector[Addr]) = {
    val state = states(rng.nextInt(states.size))
    val country = countries(rng.nextInt(countries.size))
    userId -> Vector.fill(n) {
      Addr(s"${rng.nextInt(1, 9999)} Rua ${rng.nextInt(500)}\nApt ${rng.nextInt(100)}",
        s"City ${rng.nextInt(50)}", state, f"${rng.nextInt(100000)}%05d", country)
    }
  }
}

object Wire {
  /** Writes the wire messages, the run artifact and the spans. */
  val json: JsonMapper = JsonMapper.builder().addModule(DefaultScalaModule).build()

  private val tsFormat =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS")

  def wireTimestamp(micros: Long): String = {
    val inst = java.time.Instant.ofEpochSecond(
      Math.floorDiv(micros, 1000000L), Math.floorMod(micros, 1000000L) * 1000L)
    java.time.LocalDateTime.ofInstant(inst, java.time.ZoneOffset.UTC).format(tsFormat) + "+0000"
  }

  def userJson(u: UserRec): String =
    json.writeValueAsString(ListMap("id" -> u.id, "name" -> u.name, "email" -> u.email,
      "genre" -> u.genre, "registerDate" -> wireTimestamp(u.registerMicros)))

  def addressJson(userId: String, a: Addr): String =
    json.writeValueAsString(ListMap("userId" -> userId, "address" -> a.address, "city" -> a.city,
      "state" -> a.state, "zipCode" -> a.zipCode, "country" -> a.country))

  /** Write a batch as `<dir>/user/<name>` and `<dir>/address/<name>`
    * (newline-delimited JSON, the `FileIngestSource` layout); returns the
    * bytes written. An empty topic gets no file.
    */
  def write(b: Batch, dir: Path, name: String): Long = {
    def put(topic: String, lines: Iterator[String]): Long =
      if (!lines.hasNext) 0L
      else {
        val bytes = lines.mkString("", "\n", "\n").getBytes(UTF_8)
        Files.createDirectories(dir.resolve(topic))
        Files.write(dir.resolve(topic).resolve(name), bytes)
        bytes.length.toLong
      }
    put("user", b.users.iterator.map(userJson)) +
      put("address", b.blocks.iterator.flatMap { case (id, as) => as.iterator.map(addressJson(id, _)) })
  }
}

/** What the three sinks must hold after the batches seen so far, computed
  * from the benchmark's own input.
  */
final class Expected {
  val users = scala.collection.mutable.LinkedHashMap.empty[String, UserRec]
  private val blocks =
    scala.collection.mutable.HashMap.empty[String, Vector[Vector[Addr]]]

  def add(b: Batch): Unit = {
    b.users.foreach(u => users(u.id) = u)
    b.blocks.foreach { case (id, as) => blocks(id) = blocks.getOrElse(id, Vector.empty) :+ as }
  }

  def addresses(userId: String): Vector[Addr] = blocks.getOrElse(userId, Vector.empty).flatten

  /** Window counts by state and by country. J1 emits one cumulative
    * snapshot per address, so the address at 1-based position j of a list
    * whose final length is L is counted L - j + 1 times (the reference's
    * over-count). Summed over a block of n addresses after p earlier ones:
    * n(L+1) - (np + n(n+1)/2), whatever the order inside the block.
    */
  def counts: (Map[String, Long], Map[String, Long]) = {
    val byState = scala.collection.mutable.HashMap.empty[String, Long].withDefaultValue(0L)
    val byCountry = scala.collection.mutable.HashMap.empty[String, Long].withDefaultValue(0L)
    blocks.valuesIterator.foreach { bs =>
      val total = bs.iterator.map(_.size.toLong).sum
      var before = 0L
      bs.foreach { as =>
        val n = as.size.toLong
        val c = n * (total + 1) - (n * before + n * (n + 1) / 2)
        byState(as.head.state) += c
        byCountry(as.head.country) += c
        before += n
      }
    }
    (byState.toMap, byCountry.toMap)
  }
}
