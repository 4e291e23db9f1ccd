package graft.ops

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, ObjectInputStream, ObjectOutputStream}
import java.util.Base64
import java.util.concurrent.{Callable, Executors, TimeUnit}

import org.scalacheck.Prop.forAll
import org.scalacheck.Test.{check => scCheck, Parameters}
import org.scalatest.funsuite.AnyFunSuite

/** Encryption parity (/root/reference/tests/test_encryption.py) +
  * round-trip property. */
class CryptoSpec extends AnyFunSuite {
  private val codec = AesCodec.fromEnv()

  test("encrypt/decrypt roundtrip; ciphertext differs from plaintext") {
    val original = "John Doe, DOB 1985-03-22, SSN 123-45-6789"
    val encrypted = codec.encrypt(original)
    assert(encrypted != original)
    assert(codec.decrypt(encrypted) == original)
  }

  test("empty string passes through") {
    assert(codec.encrypt("") == "")
    assert(codec.decrypt("") == "")
  }

  test("null passes through") {
    assert(codec.encrypt(null) == null)
    assert(codec.decrypt(null) == null)
  }

  test("nondeterministic: two encryptions of the same value differ (fresh IV)") {
    assert(codec.encrypt("x") != codec.encrypt("x"))
  }

  test("different keys cannot decrypt each other's output") {
    val other = AesCodec.fromEnv()
    val ct = codec.encrypt("secret")
    intercept[Exception](other.decrypt(ct))
  }

  test("property: decrypt ∘ encrypt == id for arbitrary strings") {
    val result = scCheck(Parameters.default,
      forAll { (s: String) => codec.decrypt(codec.encrypt(s)) == s })
    assert(result.passed, result.status.toString)
  }

  private def fixedKey(from: Int): Array[Byte] = Array.tabulate(32)(i => (from + i).toByte)

  test("stored format: a ciphertext written by an earlier build still decrypts") {
    // base64(12-byte IV ‖ ciphertext ‖ 128-bit tag) under key bytes 0..31,
    // produced before the codec kept per-thread Cipher and CSPRNG state
    val stored = "bDdwq54+tV6XByC2XVLkEHhe+CLbpFudXuwP/nITeUkaFQ/7cHHz/K09KKAcUujmYLjDhgGY5vBWTn/6d3V6L/nf"
    assert(AesCodec(fixedKey(0)).decrypt(stored) == "Zoë Álvarez, 1985-03-22, 123-45-6789")
  }

  test("4 threads x 20k values round-trip, and every IV is distinct") {
    val c = AesCodec(fixedKey(0))
    val pool = Executors.newFixedThreadPool(4)
    try {
      val ivs = (0 until 4).map { t =>
        pool.submit(new Callable[Seq[String]] {
          def call(): Seq[String] = (0 until 20000).map { i =>
            val pt = s"patient-$t-$i"
            val ct = c.encrypt(pt)
            assert(c.decrypt(ct) == pt)
            Base64.getEncoder.encodeToString(Base64.getDecoder.decode(ct).take(12))
          }
        })
      }.flatMap(_.get(120, TimeUnit.SECONDS))
      assert(ivs.size == 80000)
      assert(ivs.distinct.size == ivs.size)
    } finally pool.shutdownNow()
  }

  test("two keys interleaved on one thread: each round-trips, neither opens the other's") {
    val a = AesCodec(fixedKey(0))
    val b = AesCodec(fixedKey(100))
    (0 until 50).foreach { i =>
      val pt = s"value-$i"
      val ca = a.encrypt(pt)
      val cb = b.encrypt(pt)
      assert(a.decrypt(ca) == pt)
      assert(b.decrypt(cb) == pt)
      intercept[javax.crypto.AEADBadTagException](a.decrypt(cb))
      intercept[javax.crypto.AEADBadTagException](b.decrypt(ca))
    }
  }

  test("flipping any byte of IV, ciphertext or tag fails the tag check") {
    val c = AesCodec(fixedKey(0))
    val ct = c.encrypt("123-45-6789")
    val raw = Base64.getDecoder.decode(ct)
    raw.indices.foreach { k =>
      val bad = raw.clone()
      bad(k) = (bad(k) ^ 0x01).toByte
      intercept[javax.crypto.AEADBadTagException](
        c.decrypt(Base64.getEncoder.encodeToString(bad)))
    }
    // a failed decrypt leaves this thread's cipher usable
    assert(c.decrypt(ct) == "123-45-6789")
  }

  test("a Java-serialized codec, as Spark ships it, interoperates with the original") {
    val c = AesCodec(fixedKey(0))
    val ct = c.encrypt("John Doe")
    val bytes = new ByteArrayOutputStream()
    val out = new ObjectOutputStream(bytes)
    out.writeObject(c); out.close()
    val shipped = new ObjectInputStream(new ByteArrayInputStream(bytes.toByteArray))
      .readObject().asInstanceOf[AesCodec]
    assert(shipped.decrypt(ct) == "John Doe")
    assert(c.decrypt(shipped.encrypt("Jane Roe")) == "Jane Roe")
  }
}
