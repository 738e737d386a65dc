package graft.pdf

import java.security.MessageDigest

/** PDF standard security handler (ISO 32000-1 §7.6.2-7.6.4 algorithms
  * 1-6 and ISO 32000-2 §7.6.4.3.3-4 algorithms 2.A/2.B): RC4 (V ∈
  * {1,2}, R ∈ {2,3}), AES-128-CBC via the AESV2 crypt filter (V=4,
  * R=4), and AES-256-CBC via AESV3 (V=5, R ∈ {5,6}) — all for the
  * EMPTY user password, the overwhelmingly common crawl case where a
  * PDF is "encrypted" only to restrict printing/copying (owner password
  * set, user password empty) and every reader silently decrypts it.
  * Real user-password-protected files remain explicit errors.
  *
  * Everything here is the published spec; RC4 is the textbook 6-line
  * KSA/PRGA and AES comes from javax.crypto. The reference gets all of
  * this from PyMuPDF (reference/src/text_extraction/processor.py:312
  * `fitz.open`).
  */
object PdfCrypt {

  /** The 32-byte standard padding string (spec table 3.2 / Algorithm 2). */
  val Pad: Array[Byte] = Array(
    0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41, 0x64, 0x00, 0x4E, 0x56,
    0xFF, 0xFA, 0x01, 0x08, 0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
    0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A).map(_.toByte)

  def rc4(key: Array[Byte], data: Array[Byte]): Array[Byte] = {
    val s = Array.tabulate(256)(_.toByte)
    var j = 0
    var i = 0
    while (i < 256) {
      j = (j + s(i) + key(i % key.length)) & 0xff
      val t = s(i); s(i) = s(j); s(j) = t
      i += 1
    }
    val out = new Array[Byte](data.length)
    var x = 0; var y = 0; var k = 0
    while (k < data.length) {
      x = (x + 1) & 0xff
      y = (y + s(x)) & 0xff
      val t = s(x); s(x) = s(y); s(y) = t
      out(k) = (data(k) ^ s((s(x) + s(y)) & 0xff)).toByte
      k += 1
    }
    out
  }

  private[pdf] def md5(parts: Array[Byte]*): Array[Byte] = {
    val md = MessageDigest.getInstance("MD5")
    parts.foreach(md.update)
    md.digest()
  }

  /** Pad-or-truncate a password to exactly 32 bytes (Algorithm 2 step a). */
  def padPassword(pw: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](32)
    val n = math.min(pw.length, 32)
    System.arraycopy(pw, 0, out, 0, n)
    System.arraycopy(Pad, 0, out, n, 32 - n)
    out
  }

  private def le32(v: Int): Array[Byte] =
    Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >>> 24) & 0xff).toByte)

  /** Algorithm 2: the file encryption key from the (empty) user
    * password, /O, /P, and the first file ID element. For R ≥ 4 with
    * /EncryptMetadata false, 4 bytes of 0xFF join the hash (step f).
    */
  def fileKey(userPw: Array[Byte], o: Array[Byte], p: Int, id: Array[Byte],
      r: Int, lengthBits: Int, encryptMetadata: Boolean = true): Array[Byte] = {
    val n = if (r == 2) 5 else lengthBits / 8
    val noMeta =
      if (r >= 4 && !encryptMetadata) Array.fill(4)(0xff.toByte)
      else Array.emptyByteArray
    var key = md5(padPassword(userPw), o, le32(p), id, noMeta).take(n)
    if (r >= 3) {
      var i = 0
      while (i < 50) { key = md5(key).take(n); i += 1 }
    }
    key
  }

  /** Per-object key (Algorithm 1): MD5(fileKey + objnum LE3 + gen LE2),
    * truncated to min(n+5, 16).
    */
  def objKey(fileKey: Array[Byte], num: Int, gen: Int): Array[Byte] = {
    val extra = Array(
      (num & 0xff).toByte, ((num >> 8) & 0xff).toByte, ((num >> 16) & 0xff).toByte,
      (gen & 0xff).toByte, ((gen >> 8) & 0xff).toByte)
    md5(fileKey, extra).take(math.min(fileKey.length + 5, 16))
  }

  /** Algorithm 3: the /O entry from owner+user passwords. */
  def computeO(ownerPw: Array[Byte], userPw: Array[Byte], r: Int,
      lengthBits: Int): Array[Byte] = {
    val n = if (r == 2) 5 else lengthBits / 8
    var key = md5(padPassword(ownerPw))
    if (r >= 3) { var i = 0; while (i < 50) { key = md5(key); i += 1 } }
    val rc4Key = key.take(n)
    var out = rc4(rc4Key, padPassword(userPw))
    if (r >= 3) {
      var i = 1
      while (i <= 19) {
        out = rc4(rc4Key.map(b => (b ^ i).toByte), out)
        i += 1
      }
    }
    out
  }

  /** Algorithms 4/5: the /U entry from the file key. */
  def computeU(fileKey: Array[Byte], id: Array[Byte], r: Int): Array[Byte] =
    if (r == 2) rc4(fileKey, Pad)
    else {
      var out = rc4(fileKey, md5(Pad, id))
      var i = 1
      while (i <= 19) {
        out = rc4(fileKey.map(b => (b ^ i).toByte), out)
        i += 1
      }
      out ++ new Array[Byte](16) // arbitrary 16-byte pad per spec
    }

  /** Algorithm 6: does the EMPTY user password open this file? Returns
    * the file key if so.
    */
  def tryEmptyUserPassword(o: Array[Byte], u: Array[Byte], p: Int,
      id: Array[Byte], r: Int, lengthBits: Int,
      encryptMetadata: Boolean = true): Option[Array[Byte]] = {
    val key = fileKey(Array.emptyByteArray, o, p, id, r, lengthBits, encryptMetadata)
    val expect = computeU(key, id, r)
    val cmp = if (r == 2) 32 else 16 // R≥3 compares the first 16 bytes only
    if (u.length >= cmp && expect.take(cmp).sameElements(u.take(cmp))) Some(key)
    else None
  }

  // ---------------------------------------------------------------- AES

  private def sha(bits: Int, parts: Array[Byte]*): Array[Byte] = {
    val md = MessageDigest.getInstance(s"SHA-$bits")
    parts.foreach(md.update)
    md.digest()
  }

  private def aesCipher(mode: Int, key: Array[Byte], iv: Array[Byte],
      padding: String): javax.crypto.Cipher = {
    val c = javax.crypto.Cipher.getInstance(s"AES/CBC/$padding")
    c.init(mode, new javax.crypto.spec.SecretKeySpec(key, "AES"),
      new javax.crypto.spec.IvParameterSpec(iv))
    c
  }

  /** AES-CBC encrypt with NO padding (Algorithm 2.B's inner step; input
    * length must already be a multiple of 16).
    */
  def aesCbcEncryptNoPad(key: Array[Byte], iv: Array[Byte],
      data: Array[Byte]): Array[Byte] =
    aesCipher(javax.crypto.Cipher.ENCRYPT_MODE, key, iv, "NoPadding").doFinal(data)

  private def aesCbcDecryptNoPad(key: Array[Byte], iv: Array[Byte],
      data: Array[Byte]): Array[Byte] =
    aesCipher(javax.crypto.Cipher.DECRYPT_MODE, key, iv, "NoPadding").doFinal(data)

  /** Decrypt an AESV2/AESV3 string or stream: first 16 bytes are the
    * IV, the rest is CBC ciphertext with PKCS#7 padding (§7.6.3).
    * Tolerant of the malformed tails crawls contain: short/ragged
    * input returns empty, an invalid final pad byte strips nothing
    * rather than throwing (honest bytes beat an aborted document).
    */
  def aesDecrypt(key: Array[Byte], data: Array[Byte]): Array[Byte] = {
    if (data.length < 32) return Array.emptyByteArray
    // A crawl-truncated stream cut mid-block still yields every COMPLETE
    // leading CBC block (RC4-parity graceful degradation): decrypt the
    // whole-block prefix, drop the ragged tail.
    val usable = ((data.length - 16) / 16) * 16
    val plain = aesCbcDecryptNoPad(key, data.slice(0, 16),
      data.slice(16, 16 + usable))
    val pad = plain.last & 0xff
    if (pad >= 1 && pad <= 16 && pad <= plain.length &&
        plain.takeRight(pad).forall(b => (b & 0xff) == pad))
      plain.dropRight(pad)
    else plain
  }

  /** AESV2/V3 writer twin (fixture generation): IV ++ CBC(PKCS#7). */
  def aesEncrypt(key: Array[Byte], iv: Array[Byte],
      data: Array[Byte]): Array[Byte] =
    iv ++ aesCipher(javax.crypto.Cipher.ENCRYPT_MODE, key, iv,
      "PKCS5Padding").doFinal(data)

  /** Per-object AES key (Algorithm 1 step b for AESV2): the RC4
    * derivation plus the constant bytes 0x73 0x41 0x6C 0x54 ("sAlT").
    * AESV3 (V=5) uses the file key directly, no per-object step.
    */
  def objKeyAes(fileKey: Array[Byte], num: Int, gen: Int): Array[Byte] = {
    val extra = Array(
      (num & 0xff).toByte, ((num >> 8) & 0xff).toByte, ((num >> 16) & 0xff).toByte,
      (gen & 0xff).toByte, ((gen >> 8) & 0xff).toByte,
      0x73.toByte, 0x41.toByte, 0x6c.toByte, 0x54.toByte)
    md5(fileKey, extra).take(math.min(fileKey.length + 5, 16))
  }

  /** Algorithm 2.B (ISO 32000-2 §7.6.4.3.4): the R=6 hardened hash.
    * Iterates AES-128-CBC over 64 repetitions of (pw ‖ K ‖ udata),
    * picking SHA-256/384/512 by the first 16 bytes of E mod 3 (256 ≡ 1
    * mod 3, so the big-endian value's residue equals the byte sum's),
    * for at least 64 rounds and then until E's last byte ≤ round - 32.
    * Only called with the empty password here, so the block length
    * (64 × (0 + 32 + |udata|)) is always a multiple of 16.
    */
  def hash2B(pw: Array[Byte], salt: Array[Byte],
      udata: Array[Byte]): Array[Byte] = {
    var k = sha(256, pw, salt, udata)
    var e: Array[Byte] = Array.emptyByteArray
    var i = 0
    while (i < 64 || (e.last & 0xff) > i - 32) {
      val unit = pw ++ k ++ udata
      val k1 = new Array[Byte](unit.length * 64)
      var j = 0
      while (j < 64) { System.arraycopy(unit, 0, k1, j * unit.length, unit.length); j += 1 }
      e = aesCbcEncryptNoPad(k.slice(0, 16), k.slice(16, 32), k1)
      var sum = 0
      var b = 0
      while (b < 16) { sum += e(b) & 0xff; b += 1 }
      k = sha(256 + (sum % 3) * 128, e)
      i += 1
    }
    k.take(32)
  }

  /** The R5/R6 user-password hash over /U's validation salt. */
  private def v5UserHash(r: Int, pw: Array[Byte], salt: Array[Byte]): Array[Byte] =
    if (r == 5) sha(256, pw, salt) else hash2B(pw, salt, Array.emptyByteArray)

  /** Algorithms 2.A / 8 (V=5, R ∈ {5,6}): does the EMPTY user password
    * open this file? /U is 48 bytes (32 hash ‖ 8 validation salt ‖ 8
    * key salt); on a match the 256-bit file key is /UE decrypted with
    * AES-256-CBC, zero IV, no padding, under the key-salt hash. /Perms
    * is not re-validated (it only repeats /P; the empty-password crawl
    * case never needs it).
    */
  def tryEmptyUserPasswordV5(u: Array[Byte], ue: Array[Byte],
      r: Int): Option[Array[Byte]] = {
    if (u.length < 48 || ue.length < 32) return None
    val pw = Array.emptyByteArray
    val vSalt = u.slice(32, 40)
    val kSalt = u.slice(40, 48)
    if (!v5UserHash(r, pw, vSalt).sameElements(u.slice(0, 32))) return None
    val ikey = if (r == 5) sha(256, pw, kSalt) else hash2B(pw, kSalt, Array.emptyByteArray)
    Some(aesCbcDecryptNoPad(ikey, new Array[Byte](16), ue.slice(0, 32)))
  }

  /** Writer twin: deterministic /U and /UE for an empty user password
    * and a chosen file key (salts supplied by the caller).
    */
  def computeUV5(r: Int, fileKey: Array[Byte], vSalt: Array[Byte],
      kSalt: Array[Byte]): (Array[Byte], Array[Byte]) = {
    val pw = Array.emptyByteArray
    val u = v5UserHash(r, pw, vSalt) ++ vSalt ++ kSalt
    val ikey = if (r == 5) sha(256, pw, kSalt) else hash2B(pw, kSalt, Array.emptyByteArray)
    val ue = aesCbcEncryptNoPad(ikey, new Array[Byte](16), fileKey)
    (u, ue)
  }

  /** Writer twin, Algorithm 9: /O and /OE from the (empty) owner
    * password — the owner-side hashes take the full 48-byte /U as extra
    * user data.
    */
  def computeOV5(r: Int, fileKey: Array[Byte], u48: Array[Byte],
      ovSalt: Array[Byte], okSalt: Array[Byte]): (Array[Byte], Array[Byte]) = {
    val pw = Array.emptyByteArray
    val oHash = if (r == 5) sha(256, pw, ovSalt, u48) else hash2B(pw, ovSalt, u48)
    val o = oHash ++ ovSalt ++ okSalt
    val okey = if (r == 5) sha(256, pw, okSalt, u48) else hash2B(pw, okSalt, u48)
    val oe = aesCbcEncryptNoPad(okey, new Array[Byte](16), fileKey)
    (o, oe)
  }

  /** Writer twin, Algorithm 10: the /Perms entry — 16 bytes (P LE32 ‖
    * 0xFF×4 ‖ 'T'/'F' ‖ "adb" ‖ 4 arbitrary) AES-ECB'd with the file
    * key. The reader side never re-validates it (it only repeats /P).
    */
  def permsV5(p: Int, encryptMetadata: Boolean,
      fileKey: Array[Byte]): Array[Byte] = {
    val block = le32(p) ++ Array.fill(4)(0xff.toByte) ++
      Array((if (encryptMetadata) 'T' else 'F').toByte,
        'a'.toByte, 'd'.toByte, 'b'.toByte) ++ new Array[Byte](4)
    val c = javax.crypto.Cipher.getInstance("AES/ECB/NoPadding")
    c.init(javax.crypto.Cipher.ENCRYPT_MODE,
      new javax.crypto.spec.SecretKeySpec(fileKey, "AES"))
    c.doFinal(block)
  }
}
