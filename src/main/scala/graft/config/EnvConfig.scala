package graft.config

/** Environment-variable configuration surface, carrying over the
  * reference's deployment contract (reference main.go:42-85 envconfig tags,
  * main.go:176-187 env intake, env-test:1-18) so an operator of the
  * reference can deploy this engine with the same environment.
  *
  * Env vars honored:
  *   SPLIT_CONF            base64(YAML routing plan)        (main.go:289-305)
  *   BROKER_LIST           comma-separated bootstrap servers (main.go:44)
  *   GROUP_PREFIX / GROUP_SUFFIX  consumer-group identity   (main.go:318-323)
  *   READER_START_OFFSET   -2=earliest (default) / -1=latest (main.go:62)
  *   WRITER_ASYNC          ignored, see note below           (main.go:83)
  *   WRITER_BATCH_SIZE     producer batch size, default 100  (main.go:484-488)
  *   WRITER_BATCH_TIMEOUT  flush interval, default 10s       (main.go:439)
  *   SSL_PRIVATE_KEY / SSL_CERTIFICATE / SSL_CA  base64 PEM  (main.go:223-280)
  *   SSL_INSECURE_SKIP_VERIFY                                (main.go:236-240)
  *   SASL_USERNAME / SASL_PASSWORD                           (main.go:282-287)
  *   DEBUG                 verbose logging                   (main.go:189-195)
  *   CHECKPOINT_ROOT       (new) streaming checkpoint base path
  *
  * NOTE on SSL_INSECURE_SKIP_VERIFY: the reference initializes skip-verify
  * to true and its env check can only re-set it to true (main.go:179,
  * 236-240), so verification is ALWAYS off — a latent security bug
  * (SURVEY §2.1 S6). Here the flag is honored properly and defaults to
  * false (verify certificates).
  *
  * NOTE on WRITER_ASYNC: the reference's async producer mode trades the
  * delivery guarantee for throughput (fire-and-forget sends, main.go:83).
  * Spark's Kafka sink is per-micro-batch synchronous — the batch commits
  * only after the producer flush — so async mode has no equivalent and the
  * variable is accepted and ignored: it is never read, so a reference
  * deployment's env still parses. Delivery is strictly stronger either
  * way (DESIGN.md §1).
  */
final case class EnvConfig(
    splitConfB64: Option[String],
    brokerList: String,
    groupPrefix: String,
    groupSuffix: String,
    startOffset: String,
    writerBatchSize: Int,
    writerBatchTimeout: String,
    writerCompression: Option[String],
    maxOffsetsPerTrigger: Option[Long],
    sslPrivateKeyB64: Option[String],
    sslCertificateB64: Option[String],
    sslCaB64: Option[String],
    sslInsecureSkipVerify: Boolean,
    saslUsername: Option[String],
    saslPassword: Option[String],
    debug: Boolean,
    checkpointRoot: String,
) {
  def plan: SpliterCollection =
    PlanCodec.fromBase64(splitConfB64.getOrElse(
      throw new IllegalArgumentException("SPLIT_CONF not set")))

  def resolvedSpliters: Seq[ResolvedSpliter] = PlanResolver.resolve(plan)

  /** Kafka DataSource options shared by source and sink: transport security
    * (S6/S7). Spark's Kafka connector takes JKS/PEM via kafka.ssl.* and
    * SASL via JAAS config.
    */
  def kafkaSecurityOptions: Map[String, String] = {
    def pem(b64: String): String =
      new String(java.util.Base64.getDecoder.decode(b64.trim.replaceAll("\\s", "")), "UTF-8")
    val ssl = (sslPrivateKeyB64, sslCertificateB64) match {
      case (Some(key), Some(cert)) =>
        // mutual TLS from base64 PEM env material (reference main.go:223-280),
        // delivered as in-line PEM (KIP-651) — no keystore files needed
        Map(
          "kafka.security.protocol" -> (if (saslUsername.isDefined) "SASL_SSL" else "SSL"),
          "kafka.ssl.endpoint.identification.algorithm" ->
            (if (sslInsecureSkipVerify) "" else "https"),
          "kafka.ssl.keystore.type" -> "PEM",
          "kafka.ssl.keystore.key" -> pem(key),
          "kafka.ssl.keystore.certificate.chain" -> pem(cert),
        ) ++ sslCaB64.map(ca => Map(
          "kafka.ssl.truststore.type" -> "PEM",
          "kafka.ssl.truststore.certificates" -> pem(ca),
        )).getOrElse(Map.empty)
      case _ => Map.empty[String, String]
    }
    val sasl = (saslUsername, saslPassword) match {
      case (Some(u), Some(p)) =>
        Map(
          "kafka.sasl.mechanism" -> "PLAIN",
          "kafka.sasl.jaas.config" ->
            ("org.apache.kafka.common.security.plain.PlainLoginModule required " +
              s"""username="$u" password="$p";"""),
        ) ++ (if (ssl.isEmpty) Map("kafka.security.protocol" -> "SASL_PLAINTEXT") else Map.empty)
      case _ => Map.empty[String, String]
    }
    ssl ++ sasl
  }

  /** Producer batching passthrough (B1): the reference buffers `batchSize`
    * messages per topic; the Kafka producer's linger/batch options are the
    * transport-level equivalent.
    */
  def kafkaSinkOptions: Map[String, String] = Map(
    "kafka.linger.ms" -> "100",
    "kafka.batch.size" -> (writerBatchSize * 1024).toString,
  ) ++
    // S5: codec passthrough (the reference registers gzip/lz4/snappy/zstd
    // decoders by side-effect import, main.go:23-27; producers pick via config)
    writerCompression.map("kafka.compression.type" -> _).toMap ++
    kafkaSecurityOptions

  /** Source-side backpressure (B3): the reference bounds in-flight work with
    * a capacity-20 channel per spliter (main.go:333); Spark's equivalent
    * bound is maxOffsetsPerTrigger.
    */
  def kafkaSourceOptions: Map[String, String] =
    Map("startingOffsets" -> startOffset) ++
      maxOffsetsPerTrigger.map("maxOffsetsPerTrigger" -> _.toString).toMap ++
      kafkaSecurityOptions
}

object EnvConfig {
  def fromEnv(env: Map[String, String] = sys.env): EnvConfig = {
    def get(k: String) = env.get(k).filter(_.nonEmpty)
    def getLong(k: String): Option[Long] = get(k).map { v =>
      try v.toLong catch {
        case _: NumberFormatException =>
          throw new IllegalArgumentException(s"$k must be a number, got '$v'")
      }
    }
    val prefix = get("GROUP_PREFIX").getOrElse("graft")
    val suffix = get("GROUP_SUFFIX").getOrElse("0")
    // reference caps affixes at 64 chars (main.go:207-221)
    require(prefix.length <= 64, "GROUP_PREFIX exceeds 64 chars")
    require(suffix.length <= 64, "GROUP_SUFFIX exceeds 64 chars")
    EnvConfig(
      splitConfB64 = get("SPLIT_CONF"),
      brokerList = get("BROKER_LIST").getOrElse("localhost:9092"),
      groupPrefix = prefix,
      groupSuffix = suffix,
      startOffset = parseStartOffset(get("READER_START_OFFSET")),
      writerBatchSize = getLong("WRITER_BATCH_SIZE").map(_.toInt).getOrElse(100),
      writerBatchTimeout = get("WRITER_BATCH_TIMEOUT").getOrElse("10 seconds"),
      writerCompression = get("WRITER_COMPRESSION"),
      maxOffsetsPerTrigger = getLong("READER_MAX_OFFSETS"),
      sslPrivateKeyB64 = get("SSL_PRIVATE_KEY"),
      sslCertificateB64 = get("SSL_CERTIFICATE"),
      sslCaB64 = get("SSL_CA"),
      sslInsecureSkipVerify = get("SSL_INSECURE_SKIP_VERIFY").exists(_.toBoolean),
      saslUsername = get("SASL_USERNAME"),
      saslPassword = get("SASL_PASSWORD"),
      debug = get("DEBUG").exists(_.toBoolean),
      checkpointRoot = get("CHECKPOINT_ROOT").getOrElse("/tmp/graft-checkpoints"),
    )
  }

  /** S3: start-offset policy. The reference's deployment contract is
    * numeric — -2 = earliest (the DEFAULT, main.go:62), -1 = latest, the
    * kafka-go sentinel constants — so a verbatim reference env must work
    * here. String forms and Spark's per-partition JSON are also accepted.
    * Any other scalar number (an absolute offset) fails fast: Spark's
    * `startingOffsets` takes per-partition JSON, not a single scalar, and
    * silently passing one through would misconfigure every partition.
    */
  def parseStartOffset(v: Option[String]): String = v.map(_.trim).filter(_.nonEmpty) match {
    case None       => "earliest"
    case Some("-2") => "earliest"
    case Some("-1") => "latest"
    // keyword forms case-insensitively, as Spark's Kafka source itself
    // accepts them — "EARLIEST" worked before this validation existed and
    // must not become a boot failure
    case Some(s) if s.equalsIgnoreCase("earliest") => "earliest"
    case Some(s) if s.equalsIgnoreCase("latest")   => "latest"
    case Some(s) if s.startsWith("{") => s // per-partition offsets JSON passthrough
    case Some(s) if s.matches("-?\\d+") =>
      throw new IllegalArgumentException(
        s"READER_START_OFFSET=$s: only -2 (earliest) and -1 (latest) scalar offsets are " +
          "supported; for absolute offsets use a per-partition startingOffsets JSON value")
    case Some(s) =>
      throw new IllegalArgumentException(
        s"READER_START_OFFSET=$s: expected -2, -1, 'earliest', 'latest', or offsets JSON")
  }
}
