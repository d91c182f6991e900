package graft

import graft.functions.{OpenSsl, Pki}
import org.apache.spark.sql.functions._

/** Std.OpenSSL analog: EVP_BytesToKey password ciphers pinned to
  * `openssl enc` CLI vectors, the SHA-3 digest fallback pinned to the
  * NIST vector, and the multi-recipient hybrid seal contract.
  */
class OpenSslSpec extends SparkSpec {
  import spark.implicits._

  test("cipherEncrypt is bit-identical to openssl enc -md md5 -pass -S") {
    // printf 'the quick brown fox' | openssl enc -aes-256-cbc -md md5 \
    //   -pass pass:secret -S 0011223344556677
    val df = Seq("the quick brown fox").toDF("t")
    val ct256 = df.select(lower(hex(OpenSsl.cipherEncrypt(
      col("t"), "aes-256-cbc", "secret", "0011223344556677")))).as[String].head()
    assert(ct256 ==
      "af0676eacaf32f4f11949c31088a45fc66fdfbf9e7adedfc038c9cb195211af3")
    val ct128 = df.select(lower(hex(OpenSsl.cipherEncrypt(
      col("t"), "aes-128-cbc", "pw2", "aabbccddeeff0011")))).as[String].head()
    assert(ct128 ==
      "ccf3259315f6e24d97c3a8fd64ba033f29e3bf1f8e302a3d348b5e3e362e3b83")
    // GCM with one shared iv across a column is nonce reuse — rejected;
    // the per-row-iv variant roundtrips
    assertThrows[IllegalArgumentException] {
      OpenSsl.cipherEncrypt(col("t"), "aes-256-gcm", "k", "0102030405060708")
    }
    val ivc = unhex(lit("000000000000000000000001"))
    val rt = df.select(OpenSsl.cipherDecryptGcm(OpenSsl.cipherEncryptGcm(
      col("t"), ivc, "aes-256-gcm", "k", "0102030405060708"),
      ivc, "aes-256-gcm", "k", "0102030405060708")).as[String].head()
    assert(rt == "the quick brown fox")
    // distinct ivs give distinct ciphertexts under the same key
    val cts = Seq(("a", "000000000000000000000001"),
      ("a", "000000000000000000000002")).toDF("t", "ivh")
      .select(hex(OpenSsl.cipherEncryptGcm(col("t"), unhex(col("ivh")),
        "aes-256-gcm", "k", "0102030405060708"))).as[String].collect()
    assert(cts.distinct.length == 2)
    val bad = df.select(OpenSsl.cipherDecrypt(OpenSsl.cipherEncrypt(
      col("t"), "aes-256-cbc", "right", "0011223344556677"),
      "aes-256-cbc", "wrong", "0011223344556677")).as[Option[String]].head()
    assert(bad.isEmpty)
    // IVSize (OpenSSL.ecl:91): the AES block for CBC, a 12-byte GCM nonce
    assert(OpenSsl.ivSize("aes-256-cbc") == 16)
    assert(OpenSsl.ivSize("AES-128-GCM") == 12)
    assertThrows[IllegalArgumentException](OpenSsl.ivSize("des-ede3"))
  }

  test("digestHex: SHA-3 UDF fallback matches the NIST vector; names map") {
    val d = Seq("abc").toDF("t")
    assert(d.select(OpenSsl.digestHex(col("t"), "sha3-256")).as[String].head() ==
      "3a985da74fe225b2045c172d6bd390bd855f086e3e9d525b46bfe24511431532")
    // sha512 native path vs openssl dgst -sha512 'graft'
    assert(Seq("graft").toDF("t")
      .select(OpenSsl.digestHex(col("t"), "sha512")).as[String].head() ==
      "9c44f55c8de907639d0523a52334481349eceb2026e01915e6ef670097086f5d1c95a486fe5736af87dd4e9f79fbd59814cf8b4d73bcfda3cf6e7f23b081e077")
    assertThrows[IllegalArgumentException] {
      OpenSsl.digestHex(col("t"), "whirlpool")
    }
  }

  test("rsaSeal: every listed recipient opens, a stranger cannot, tamper fails") {
    val (pub1, priv1) = Pki.generateKeyPairPem()
    val (pub2, priv2) = Pki.generateKeyPairPem()
    val (_, priv3) = Pki.generateKeyPairPem()
    val msg = "multi-recipient payload".getBytes("UTF-8")
    val env = OpenSsl.rsaSeal(msg, Seq(pub1, pub2))
    assert(OpenSsl.rsaUnseal(env, priv1).map(new String(_, "UTF-8"))
      .contains("multi-recipient payload"))
    assert(OpenSsl.rsaUnseal(env, priv2).map(new String(_, "UTF-8"))
      .contains("multi-recipient payload"))
    assert(OpenSsl.rsaUnseal(env, priv3).isEmpty)
    // flip one payload bit — GCM authentication must reject
    val tampered = env.clone(); tampered(env.length - 1) =
      (tampered(env.length - 1) ^ 1).toByte
    assert(OpenSsl.rsaUnseal(tampered, priv1).isEmpty)
    // column wrappers
    val out = Seq("row payload").toDF("t")
      .select(OpenSsl.rsaUnsealCol(
        OpenSsl.rsaSealCol(col("t"), Seq(pub1)), priv1)).as[String].head()
    assert(out == "row payload")
  }
}
