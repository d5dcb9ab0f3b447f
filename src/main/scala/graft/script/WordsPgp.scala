package graft.script

import java.nio.charset.StandardCharsets

import WarpScriptEngine._
import OpenPgp._

/** PGP word family (fn/PGPRING.java, PGPPUBLIC, PGPPRIVATE, PGPINFO,
  * PGPSIGN, PGPVERIFY, PGPENCRYPT, PGPDECRYPT — BouncyCastle in the
  * reference, the clean-room [[OpenPgp]] RFC 4880 subset here). Stack
  * contracts mirror the reference word for word; GnuPG interop is
  * pinned in WsPgpSpec.
  */
object WordsPgp {

  private def bytesOf(v: Any): Array[Byte] = v match {
    case b: Array[Byte] => b
    case s: String => s.getBytes(StandardCharsets.UTF_8)
    case o => throw new IllegalArgumentException(s"expected STRING or BYTES, got $o")
  }

  /** Reference key-id decode: a hex string's LAST 8 bytes, or a Long. */
  private def keyIdOf(v: Any): Long = v match {
    case l: Long => l
    case s: String =>
      val decoded = s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
      decoded.takeRight(8).foldLeft(0L)((a, b) => (a << 8) | (b & 0xffL))
    case o => throw new IllegalArgumentException(s"key id: $o")
  }

  private def keyMap(pub: PubKey): Map[Any, Any] = Map(
    "keyid" -> pub.keyIdHex,
    "fingerprint" -> pub.fingerprint.map(b => f"$b%02x").mkString,
    "uid" -> pub.uids.map(identity[Any]),
    "bits" -> pub.bits.toLong,
    "algorithm" -> (pub.algo match {
      case 1 => "RSA_GENERAL"; case 2 => "RSA_ENCRYPT"; case 3 => "RSA_SIGN"
      case o => s"ALG_$o"
    }),
    "key" -> pub)

  private def infoMap(pub: PubKey, master: Boolean): Map[Any, Any] =
    keyMap(pub) - "key" ++ Map[Any, Any](
      "master" -> master,
      "signing" -> (pub.algo == 1 || pub.algo == 3),
      "encryption" -> (pub.algo == 1 || pub.algo == 2),
      "expiry" -> 0L,
      "pubkey" -> pub,
      "attributes" -> Vector.empty[Any])

  def register(words: WordTable): Unit = {
    // ---- PGPRING: ring object → encoded bytes; blob → list of rings
    words("PGPRING") { (w, st, en) =>
      st.pop() match {
        case r: PubRing => st.push(r.encoded)
        case r: SecRing => st.push(r.encoded)
        case v => st.push(parseRingsAuto(v).map(identity[Any]))
      }
    }

    // ---- PGPPUBLIC: the reference's overload ladder
    words("PGPPUBLIC") { (w, st, en) =>
      st.pop() match {
        case k: PubKey =>
          // armored serialization of the bare key packet
          st.push(OpenPgp.armor("PUBLIC KEY BLOCK", OpenPgp.packet(6, k.body)))
        case r: SecRing => st.push(r.keys.map(_.pub.keyIdHex).map(identity[Any]))
        case r: PubRing => st.push(r.keys.map(_.keyIdHex).map(identity[Any]))
        // keyid + ring below → the key object (a hex STRING keyid is
        // accepted when a ring sits underneath, else it's a blob)
        case idv if idv.isInstanceOf[Long] ||
            (idv.isInstanceOf[String] &&
              st.stack.headOption.exists(r =>
                r.isInstanceOf[PubRing] || r.isInstanceOf[SecRing])) =>
          val id = keyIdOf(idv)
          val key = st.pop() match {
            case r: PubRing => r.byId(id)
            case r: SecRing => r.pubById(id)
            case o => throw new IllegalArgumentException(s"$w expected a PGP key ring, got $o")
          }
          st.push(key.getOrElse(throw new IllegalArgumentException(
            f"$w key with id 0x$id%x not found.")))
        case v =>
          // serialized blob → map of keyid → key map
          val rings = parseRingsAuto(v)
          val maps = rings.flatMap {
            case r: PubRing => r.keys
            case r: SecRing => r.keys.map(_.pub)
          }.map(k => (k.keyIdHex: Any) -> (keyMap(k): Any))
          st.push(maps.toMap)
      }
    }

    // ---- PGPPRIVATE: secret ring → key ids
    words("PGPPRIVATE") { (w, st, en) =>
      st.pop() match {
        case r: SecRing => st.push(r.keys.map(_.pub.keyIdHex).map(identity[Any]))
        case o => throw new IllegalArgumentException(s"$w expected a PGP secret key ring, got $o")
      }
    }

    // ---- PGPINFO: ring → keyid → info map
    words("PGPINFO") { (w, st, en) =>
      st.pop() match {
        case r: SecRing =>
          st.push(r.keys.map(k =>
            (k.pub.keyIdHex: Any) -> (infoMap(k.pub, k.pub.isMaster): Any)).toMap)
        case r: PubRing =>
          st.push(r.keys.map(k =>
            (k.keyIdHex: Any) -> (infoMap(k, k.isMaster): Any)).toMap)
        case o => throw new IllegalArgumentException(s"$w expected a PGP key ring, got $o")
      }
    }

    // ---- PGPSIGN: params map + data → signature (detached) or
    // one-pass signed message
    words("PGPSIGN") { (w, st, en) =>
      val params = st.pop().asInstanceOf[Map[Any, Any]]
      val detached = params.getOrElse("detached", true) == true
      val armorOut = params.getOrElse("armor", true) == true
      val passphrase = params.get("passphrase") match {
        case Some(s: String) => s
        case _ => throw new IllegalArgumentException(s"$w missing PGP secret key passphrase.")
      }
      val ring = params.get("keyring") match {
        case Some(r: SecRing) => r
        case _ => throw new IllegalArgumentException(s"$w expected a PGP secret key ring.")
      }
      val keyid = keyIdOf(params.getOrElse("keyid",
        throw new IllegalArgumentException(s"$w missing PGP secret key id.")))
      val sec = ring.byId(keyid).getOrElse(throw new IllegalArgumentException(
        f"$w key with id 0x$keyid%x not found.")).unlock(passphrase)
      val digest = String.valueOf(params.getOrElse("digest", "SHA512"))
      // 'date' is STU µs in the reference; default to the engine NOW
      val dateSec = params.get("date") match {
        case Some(l: Long) => l / 1000000L
        case _ => en.nowTick / 1000000L
      }
      val data = bytesOf(st.pop())
      val sig = OpenPgp.signDetached(sec, data, digest, dateSec)
      if (detached)
        st.push(if (armorOut) OpenPgp.armor("SIGNATURE", sig) else sig)
      else {
        val msg = OpenPgp.onePassMessage(sec, data, digest, dateSec, sig)
        st.push(if (armorOut) OpenPgp.armor("MESSAGE", msg) else msg)
      }
    }

    // ---- PGPVERIFY: [detached?] key | (keyid ring) → boolean
    // (+ extracted data first for one-pass messages)
    words("PGPVERIFY") { (w, st, en) =>
      var top = st.pop()
      val detached = top match {
        case b: Boolean => top = st.pop(); b
        case _ => false
      }
      val key: PubKey = top match {
        case k: PubKey => k
        case idv @ (_: Long | _: String) =>
          val id = keyIdOf(idv)
          val k = st.pop() match {
            case r: SecRing => r.pubById(id)
            case r: PubRing => r.byId(id)
            case o => throw new IllegalArgumentException(s"$w missing PGP key ring, got $o")
          }
          k.getOrElse(throw new IllegalArgumentException(
            f"$w key with id 0x$id%x not found."))
        case o => throw new IllegalArgumentException(
          s"$w expected a PGP public key or key ring and key id, got $o")
      }
      if (detached) {
        val sig = st.pop() match {
          case s: String => OpenPgp.dearmor(s)
          case b: Array[Byte] => b
          case o => throw new IllegalArgumentException(s"$w expected signature data, got $o")
        }
        val data = bytesOf(st.pop())
        st.push(OpenPgp.verifyDetached(key, data, sig))
      } else {
        val msg = st.pop() match {
          case s: String => OpenPgp.dearmor(s)
          case b: Array[Byte] => b
          case o => throw new IllegalArgumentException(s"$w expected signed message, got $o")
        }
        val (data, ok) = OpenPgp.verifyOnePass(key, msg)
        st.push(data)
        st.push(ok)
      }
    }

    // ---- PGPENCRYPT: params map + data → encrypted message
    words("PGPENCRYPT") { (w, st, en) =>
      val params = st.pop().asInstanceOf[Map[Any, Any]]
      val armorOut = params.getOrElse("armor", true) == true
      val throwKeyId = params.getOrElse("throw_keyid", true) == true
      val pub: PubKey = params.get("recipient") match {
        case Some(k: PubKey) => k
        case Some(idv @ (_: Long | _: String)) =>
          val id = keyIdOf(idv)
          val k = params.get("keyring") match {
            case Some(r: PubRing) => r.byId(id)
            case Some(r: SecRing) => r.pubById(id)
            case _ => throw new IllegalArgumentException(s"$w missing PGP key ring.")
          }
          k.getOrElse(throw new IllegalArgumentException(
            f"$w key with id 0x$id%x not found."))
        case _ => throw new IllegalArgumentException(
          s"$w missing recipient PGP public key or key ring and key id.")
      }
      val data = bytesOf(st.pop())
      val msg = OpenPgp.encrypt(pub, data, en.prng, throwKeyId,
        dateSec = en.nowTick / 1000000L)
      st.push(if (armorOut) OpenPgp.armor("MESSAGE", msg) else msg)
    }

    // ---- PGPDECRYPT: data ring keyid passphrase → bytes
    words("PGPDECRYPT") { (w, st, en) =>
      val passphrase = st.popStr()
      val keyid = keyIdOf(st.pop())
      val ring = st.pop() match {
        case r: SecRing => r
        case o => throw new IllegalArgumentException(s"$w missing PGP secret key ring, got $o")
      }
      val data = st.pop() match {
        case s: String => OpenPgp.dearmor(s)
        case b: Array[Byte] => b
        case o => throw new IllegalArgumentException(s"$w expected message data, got $o")
      }
      val sec = ring.byId(keyid).getOrElse(throw new IllegalArgumentException(
        f"$w key with id 0x$keyid%x not found.")).unlock(passphrase)
      st.push(OpenPgp.decrypt(sec, data))
    }
  }
}
