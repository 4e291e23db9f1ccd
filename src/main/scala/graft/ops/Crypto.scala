package graft.ops

import java.nio.charset.StandardCharsets.UTF_8
import java.security.SecureRandom
import java.util.Base64

import javax.crypto.Cipher
import javax.crypto.spec.{GCMParameterSpec, SecretKeySpec}

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf

/** PHI field-level symmetric encryption (SURVEY.md §2.7 X1/X2).
  *
  * Capability parity with the reference's Fernet service
  * (/root/reference/app/services/encryption.py:28-38): AES-GCM,
  * base64-encoded `iv ++ ciphertext ++ tag` output, empty-string
  * passthrough, env-sourced key (`PHI_ENCRYPTION_KEY`, base64 of 16/24/32
  * key bytes) with a generated development fallback
  * (encryption.py:18-26). Byte-format compatibility with Fernet is NOT a
  * goal — the observable contract is decrypt∘encrypt = id and
  * ciphertext ≠ plaintext (tests/test_encryption.py:6-18).
  *
  * Cluster-correctness: the codec (key included) is a serializable value
  * CAPTURED in the UDF closure, so every executor decrypts with the
  * driver's key even when the key was randomly generated. A
  * per-executor-initialized `object` field would silently fork keys.
  *
  * The UDFs are `asNondeterministic` — a fresh random IV per call means
  * Catalyst must not constant-fold, common-subexpression-eliminate, or
  * re-execute them assuming stable output. Never in `oracleSql` queries.
  *
  * Per-value cost: the UDF runs once per PHI value (about two million
  * values per million-record batch), so nothing is built per value. The
  * `SecretKeySpec` is built once per codec instance (transient: the closure
  * Spark ships carries only the key bytes), and each thread keeps one
  * `Cipher` and one CSPRNG (`AesCodec.cipher`, `AesCodec.rng`), re-keyed
  * and re-IV'd by `init` on every call. A thread-confined `Cipher` is never
  * shared; a per-thread DRBG instead of the default `NativePRNG` keeps task
  * threads from serializing on that provider's one global lock.
  *
  * Key lifetime: with 96-bit random IVs, NIST SP 800-38D §8.3 caps one key
  * at about 2^32 encryptions (IV-collision probability ≤ 2^-32). A store
  * that outgrows that under one key rotates to per-batch data keys with
  * [[EnvelopeCrypto]], which gives each write batch a fresh key.
  */
final case class AesCodec(keyBytes: Array[Byte]) extends Serializable {
  require(Set(16, 24, 32).contains(keyBytes.length),
    s"AES key must be 16/24/32 bytes, got ${keyBytes.length}")

  import AesCodec.{GcmTagBits, IvLen, TagLen}

  @transient private lazy val key = new SecretKeySpec(keyBytes, "AES")

  def encrypt(plaintext: String): String =
    if (plaintext == null || plaintext.isEmpty) plaintext
    else {
      val pt = plaintext.getBytes(UTF_8)
      val iv = AesCodec.randomBytes(IvLen)
      val cipher = AesCodec.cipher.get()
      cipher.init(Cipher.ENCRYPT_MODE, key, new GCMParameterSpec(GcmTagBits, iv))
      // iv ‖ ciphertext ‖ tag in one buffer
      val out = new Array[Byte](IvLen + pt.length + TagLen)
      System.arraycopy(iv, 0, out, 0, IvLen)
      cipher.doFinal(pt, 0, pt.length, out, IvLen)
      Base64.getEncoder.encodeToString(out)
    }

  def decrypt(ciphertext: String): String =
    if (ciphertext == null || ciphertext.isEmpty) ciphertext
    else {
      val raw = Base64.getDecoder.decode(ciphertext)
      val cipher = AesCodec.cipher.get()
      cipher.init(Cipher.DECRYPT_MODE, key,
        new GCMParameterSpec(GcmTagBits, raw, 0, IvLen))
      new String(cipher.doFinal(raw, IvLen, raw.length - IvLen), UTF_8)
    }
}

object AesCodec {
  private val GcmTagBits = 128
  private val TagLen = GcmTagBits / 8
  private val IvLen = 12

  private val cipher =
    ThreadLocal.withInitial[Cipher](() => Cipher.getInstance("AES/GCM/NoPadding"))
  private val rng =
    ThreadLocal.withInitial[SecureRandom](() => SecureRandom.getInstance("DRBG"))

  /** `n` bytes from this thread's CSPRNG: the one source of every IV and
    * generated key in this file. */
  private[ops] def randomBytes(n: Int): Array[Byte] = {
    val b = new Array[Byte](n); rng.get().nextBytes(b); b
  }

  /** Env-sourced key or generated dev key (reference encryption.py:18-26). */
  def fromEnv(): AesCodec =
    sys.env.get("PHI_ENCRYPTION_KEY").filter(_.nonEmpty) match {
      case Some(b64) => AesCodec(Base64.getDecoder.decode(b64))
      case None => AesCodec(randomBytes(32))
    }
}

object Crypto {
  /** Process-wide default codec (one key per driver run, like the
    * reference's module-level `encryption = EncryptionService()`). */
  lazy val default: AesCodec = AesCodec.fromEnv()

  /** encrypt/decrypt as Columns. The codec travels in the closure. */
  def encryptCol(c: Column, codec: AesCodec = default): Column = {
    val codecRef = codec
    udf((s: String) => codecRef.encrypt(s)).asNondeterministic().apply(c)
  }

  def decryptCol(c: Column, codec: AesCodec = default): Column = {
    val codecRef = codec
    udf((s: String) => codecRef.decrypt(s)).apply(c)
  }
}

/** ENVELOPE encryption — the key-management upgrade a 100 TB PHI store
  * needs over the reference's single static process-lifetime key
  * (/root/reference/app/services/encryption.py:18-26): data is encrypted with
  * a short-lived DATA key; only the data key (wrapped by the master) is
  * stored alongside the ciphertext. Rotating the master key = re-wrap
  * one 32-byte key per batch, NOT re-encrypting petabytes; a leaked
  * data key exposes one batch, not the corpus.
  *
  * Batch-grained by design: one envelope per write batch keeps the
  * wrapped-key column a constant literal (zero per-row cost) and the
  * re-wrap inventory one row per batch. Decryption unwraps each
  * distinct envelope once per task (transient memo), so mixed-envelope
  * tables (the normal state during rotation windows) decrypt in one
  * pass with no grouping. */
object EnvelopeCrypto {
  final case class Envelope(keyId: String, wrappedKey: String)

  /** Fresh data key + its wrapped form under `master`. */
  def newEnvelope(master: AesCodec): (Envelope, AesCodec) = {
    val dk = AesCodec.randomBytes(32)
    val wrapped = master.encrypt(Base64.getEncoder.encodeToString(dk))
    (Envelope(java.util.UUID.randomUUID().toString, wrapped), AesCodec(dk))
  }

  /** Recover the data codec from a stored envelope. */
  def open(master: AesCodec, wrappedKey: String): AesCodec =
    AesCodec(Base64.getDecoder.decode(master.decrypt(wrappedKey)))

  /** Master-key rotation: re-wrap the data key, ciphertext untouched. */
  def rewrap(oldMaster: AesCodec, newMaster: AesCodec, env: Envelope): Envelope =
    env.copy(wrappedKey =
      newMaster.encrypt(oldMaster.decrypt(env.wrappedKey)))

  /** Encrypt `cols` of a batch under ONE fresh envelope; appends the
    * constant `key_id` and `wrapped_dek` columns (literals — no per-row
    * work beyond the data-key cipher itself). */
  def encryptBatch(df: org.apache.spark.sql.DataFrame, cols: Seq[String],
      master: AesCodec = Crypto.default): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.lit
    val (env, dataCodec) = newEnvelope(master)
    cols.foldLeft(df)((d, c) =>
        d.withColumn(c, Crypto.encryptCol(d(c), dataCodec)))
      .withColumn("key_id", lit(env.keyId))
      .withColumn("wrapped_dek", lit(env.wrappedKey))
  }

  /** Per-executor unwrap memo: each distinct wrapped key is opened once
    * per task (transient — rebuilt after closure deserialization). */
  private final class Unwrapper(master: AesCodec) extends Serializable {
    @transient private lazy val cache =
      scala.collection.concurrent.TrieMap.empty[String, AesCodec]
    def decrypt(ct: String, wrapped: String): String =
      cache.getOrElseUpdate(wrapped, open(master, wrapped)).decrypt(ct)
  }

  /** Decrypt `cols` of a (possibly mixed-envelope) table in one pass,
    * driven by each row's `wrapped_dek`. */
  def decryptBatch(df: org.apache.spark.sql.DataFrame, cols: Seq[String],
      master: AesCodec = Crypto.default): org.apache.spark.sql.DataFrame = {
    val un = new Unwrapper(master)
    val dec = udf((ct: String, wrapped: String) =>
      if (ct == null || ct.isEmpty) ct else un.decrypt(ct, wrapped))
    cols.foldLeft(df)((d, c) => d.withColumn(c, dec(d(c), d("wrapped_dek"))))
  }
}
