package graft.operators

import graft.core.{Address, User, UserAddress}
import org.scalacheck.{Gen, Prop, Properties}

/** Property-based pinning of the J1 contract (SURVEY.md §2.1) over random
  * interleavings: the fold must match an independently-written reference
  * model for every event sequence, per key.
  */
object EnrichmentJoinPropertySpec extends Properties("EnrichmentJoin") {

  private val ts = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")

  private val genEvent: Gen[Envelope] = for {
    key <- Gen.oneOf("k1", "k2", "k3")
    isUser <- Gen.prob(0.3)
    tag <- Gen.alphaNumStr.map(_.take(4))
  } yield
    if (isUser) Envelope.ofUser(User(key, s"name-$tag", "e", "F", ts))
    else Envelope.ofAddress(Address(key, s"addr-$tag", "c", "s", "z", "co"))

  /** Obviously-correct model written independently of the production fold. */
  private def model(events: Seq[Envelope]): Seq[UserAddress] = {
    var user: Option[User] = None
    val addrs = scala.collection.mutable.ArrayBuffer.empty[Address]
    val out = scala.collection.mutable.ArrayBuffer.empty[UserAddress]
    events.foreach {
      case Envelope(_, _, Some(u), _, _) =>
        user = Some(u)
        out += UserAddress(u, addrs.toVector)
      case Envelope(_, _, _, Some(a), _) =>
        addrs += a
        user.foreach(u => out += UserAddress(u, addrs.toVector))
      case _ =>
    }
    out.toSeq
  }

  property("fold matches reference model on random interleavings, per key") =
    Prop.forAll(Gen.listOfN(60, genEvent)) { events =>
      events.groupBy(_.key).forall { case (_, evs) =>
        EnrichmentJoin.runKey(evs.iterator)._2.toSeq == model(evs)
      }
    }

  property("emission count = user events + addresses after first user") =
    Prop.forAll(Gen.listOfN(40, genEvent)) { events =>
      events.groupBy(_.key).forall { case (_, evs) =>
        val firstUser = evs.indexWhere(_.user.isDefined)
        val expected =
          if (firstUser < 0) 0
          else evs.count(_.user.isDefined) +
            evs.zipWithIndex.count { case (e, i) => e.address.isDefined && i > firstUser }
        EnrichmentJoin.runKey(evs.iterator)._2.size == expected
      }
    }

  property("final state: all addresses in order; user last-write-wins") =
    Prop.forAll(Gen.listOfN(40, genEvent)) { events =>
      events.groupBy(_.key).forall { case (_, evs) =>
        val (st, _) = EnrichmentJoin.runKey(evs.iterator)
        st.addresses == evs.flatMap(_.address).toVector &&
          st.user == evs.flatMap(_.user).lastOption
      }
    }
}
