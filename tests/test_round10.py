"""Round-10 operator tests: ConsumerCryptoFailureAction /
ProducerCryptoFailureAction (ConsumerCryptoFailureAction.java:30,
ProducerCryptoFailureAction.java), multi-rotation decryption, and the
partitioned near-dup band store."""
import pytest
from pyspark.sql import functions as F

# The scalable-subscription cursor classes live in tests/test_scalable_subscriptions.py;
# importing them here keeps their ids under this module too.
from tests.test_scalable_subscriptions import (  # noqa: F401
    TestHoleCleanupOnSlotOps,
    TestStreamingAckHoles,
)


@pytest.fixture(scope="module")
def keys():
    from pulsar_spark.crypto import generate_rsa_keypair

    return generate_rsa_keypair()


def _payloads(spark, ids):
    return spark.createDataFrame(
        [(i, f"msg-{i}".encode()) for i in ids], "event_id bigint, payload binary"
    )


class TestCryptoFailureActions:
    def _mixed(self, spark, keys):
        """Rows 0-4 encrypted for alice, 5-9 for bob only — the bob rows
        are undecryptable as alice (NULL wrapped key after the union)."""
        from pulsar_spark.crypto import encrypt_messages, generate_rsa_keypair

        _apriv, apub = keys
        _bpriv, bpub = generate_rsa_keypair()
        a = encrypt_messages(_payloads(spark, range(5)), {"alice": apub})
        b = encrypt_messages(_payloads(spark, range(5, 10)), {"bob": bpub})
        return a.unionByName(b, allowMissingColumns=True)

    def test_fail_is_default_and_raises(self, spark, keys):
        from pulsar_spark.crypto import decrypt_messages

        priv, _pub = keys
        with pytest.raises(Exception, match="no usable data key|FAIL"):
            decrypt_messages(self._mixed(spark, keys), "alice", priv).collect()

    def test_discard_drops_undecryptable(self, spark, keys):
        from pulsar_spark.crypto import DISCARD, decrypt_messages

        priv, _pub = keys
        out = decrypt_messages(
            self._mixed(spark, keys), "alice", priv, failure_action=DISCARD
        )
        rows = out.collect()
        assert {r.event_id for r in rows} == set(range(5))
        assert all(bytes(r.payload) == f"msg-{r.event_id}".encode() for r in rows)
        # DISCARD strips the encryption columns like the classic path
        assert "encryption_param" not in out.columns
        assert "crypto_failure" not in out.columns

    def test_consume_passes_ciphertext_flagged(self, spark, keys):
        from pulsar_spark.crypto import CONSUME, decrypt_messages

        priv, _pub = keys
        out = decrypt_messages(
            self._mixed(spark, keys), "alice", priv, failure_action=CONSUME
        )
        rows = {r.event_id: r for r in out.collect()}
        assert len(rows) == 10
        for i in range(5):
            assert not rows[i].crypto_failure
            assert bytes(rows[i].payload) == f"msg-{i}".encode()
        for i in range(5, 10):
            assert rows[i].crypto_failure
            # ciphertext intact: plaintext length + 16-byte GCM tag
            assert len(bytes(rows[i].payload)) == len(f"msg-{i}") + 16
        # CONSUME keeps the encryption context for later decryption
        assert "encryption_param" in out.columns

    def test_consume_flags_tampered_rows_only(self, spark, keys):
        from pulsar_spark.crypto import CONSUME, decrypt_messages, encrypt_messages

        priv, pub = keys
        enc = encrypt_messages(_payloads(spark, range(6)), {"k": pub})
        # prepend a byte to even ids' ciphertext — GCM auth always fails
        tampered = enc.withColumn(
            "payload",
            F.when(
                F.col("event_id") % 2 == 0,
                F.concat(F.expr("X'00'"), F.col("payload")),
            ).otherwise(F.col("payload")),
        )
        out = decrypt_messages(tampered, "k", priv, failure_action=CONSUME)
        flags = {r.event_id: r.crypto_failure for r in out.collect()}
        assert flags == {i: (i % 2 == 0) for i in range(6)}

    def test_key_rotation_two_data_keys_one_pass(self, spark, keys):
        from pulsar_spark.crypto import decrypt_messages, encrypt_messages

        priv, pub = keys
        # two encrypt calls = two data-key rotations, same recipient
        enc = encrypt_messages(_payloads(spark, range(5)), {"k": pub}).unionByName(
            encrypt_messages(_payloads(spark, range(5, 10)), {"k": pub})
        )
        assert enc.select("encryption_key__k").distinct().count() == 2
        out = decrypt_messages(enc, "k", priv)
        got = {(r.event_id, bytes(r.payload)) for r in out.collect()}
        assert got == {(i, f"msg-{i}".encode()) for i in range(10)}

    def test_producer_send_falls_back_to_plaintext(self, spark, keys):
        from pulsar_spark.crypto import FAIL, SEND, encrypt_messages

        src = _payloads(spark, range(3))
        with pytest.raises(Exception):
            encrypt_messages(src, {"bad": b"not a pem"}, failure_action=FAIL)
        out = encrypt_messages(src, {"bad": b"not a pem"}, failure_action=SEND)
        assert "encryption_param" not in out.columns
        assert {bytes(r.payload) for r in out.collect()} == {
            f"msg-{i}".encode() for i in range(3)
        }

    def test_unknown_action_rejected(self, spark, keys):
        from pulsar_spark.crypto import decrypt_messages, encrypt_messages

        priv, pub = keys
        enc = encrypt_messages(_payloads(spark, [1]), {"k": pub})
        with pytest.raises(ValueError, match="unknown Consumer"):
            decrypt_messages(enc, "k", priv, failure_action="RETRY")
        with pytest.raises(ValueError, match="unknown Producer"):
            encrypt_messages(_payloads(spark, [1]), {"k": pub}, failure_action="DROP")

    def test_empty_frame_schema_stable(self, spark, keys):
        from pulsar_spark.crypto import CONSUME, decrypt_messages, encrypt_messages

        priv, pub = keys
        enc = encrypt_messages(_payloads(spark, range(3)), {"k": pub}).limit(0)
        out = decrypt_messages(enc, "k", priv)
        assert out.count() == 0 and "encryption_param" not in out.columns
        outc = decrypt_messages(enc, "k", priv, failure_action=CONSUME)
        assert "crypto_failure" in outc.columns


class TestTrainedLangid:
    # planted multilingual fixture: real per-language vocabulary, text
    # that mostly AVOIDS the heuristic's five marker words — the case a
    # trained identifier exists for. Deterministic: word choice cycles
    # modularly, no RNG. (The driver's documents.lang column is NOT
    # derivable from its word-soup text — even the marker heuristic
    # scores at the majority-class rate there — so the accuracy bound
    # lives on this planted fixture; the doc_langid_trained oracle row
    # checks cross-engine exactness on the driver table.)
    VOCAB = {
        "de": ("haus wasser himmel strasse garten nacht morgen zeit jahr "
               "stadt kind buch tisch fenster berg wald fluss regen schnee "
               "sonne mond stern brot milch apfel pferd hund katze vogel "
               "fisch").split(),
        "en": ("house water sky street garden night morning time year "
               "city child book table window mountain forest river rain "
               "snow sun moon star bread milk apple horse dog cat bird "
               "fish").split(),
        "es": ("casa agua cielo calle jardin noche manana tiempo ano "
               "ciudad nino libro mesa ventana montana bosque rio lluvia "
               "nieve sol luna estrella pan leche manzana caballo perro "
               "gato pajaro pez").split(),
        "fr": ("maison eau ciel rue jardin nuit matin temps annee ville "
               "enfant livre table fenetre montagne foret riviere pluie "
               "neige soleil lune etoile pain lait pomme cheval chien "
               "chat oiseau poisson").split(),
        "zh": ("房子 水流 天空 街道 花园 夜晚 早晨 时间 年份 城市 孩子 书本 "
               "桌子 窗户 高山 森林 河流 下雨 下雪 太阳 月亮 星星 面包 牛奶 "
               "苹果 马匹 小狗 小猫 小鸟 鱼儿").split(),
    }

    def _fixture(self, spark, docs_per_lang=20, words_per_doc=40):
        rows = []
        doc_id = 0
        for lang in sorted(self.VOCAB):
            v = self.VOCAB[lang]
            for i in range(docs_per_lang):
                words = [v[(i * 7 + j * 3) % len(v)] for j in range(words_per_doc)]
                rows.append((doc_id, " ".join(words), lang))
                doc_id += 1
        return spark.createDataFrame(rows, "doc_id bigint, text string, lang string")

    def test_beats_heuristic_on_planted_fixture(self, spark):
        from pulsar_spark.functions import langid_fit_predict
        from pulsar_spark.functions.text import language_id

        docs = self._fixture(spark)
        truth = {r.doc_id: r.lang for r in docs.select("doc_id", "lang").collect()}
        trained = {
            r.doc_id: r.lang_pred
            for r in langid_fit_predict(
                docs, train_filter=F.col("doc_id") % 2 == 0
            ).collect()
        }
        heur = {r.doc_id: r.lang_pred for r in language_id(docs).collect()}
        test_ids = [i for i in truth if i % 2 == 1]
        acc_t = sum(trained[i] == truth[i] for i in test_ids) / len(test_ids)
        acc_h = sum(heur[i] == truth[i] for i in test_ids) / len(test_ids)
        # the trained model must be near-perfect on held-out docs AND
        # strictly beat the marker heuristic (which scores ~chance
        # here: the texts avoid its five marker words per language)
        assert acc_t >= 0.95, (acc_t, acc_h)
        assert acc_t > acc_h, (acc_t, acc_h)

    def test_short_docs_drop_and_grams_window(self, spark):
        from pulsar_spark.functions import char_ngrams, langid_fit_predict

        df = spark.createDataFrame(
            [(1, "abcd", "en"), (2, "x", "en"), (3, "née", "fr")],
            "doc_id bigint, text string, lang string",
        )
        grams = {
            r.doc_id: r.g
            for r in df.select("doc_id", char_ngrams(F.col("text")).alias("g")).collect()
        }
        assert grams[1] == ["ab", "bc", "cd"]
        assert grams[2] == []       # shorter than n
        assert grams[3] == ["né", "ée"]  # character, not byte, windows
        out = langid_fit_predict(df)
        assert {r.doc_id for r in out.collect()} == {1, 3}

    def test_deterministic_tie_breaks_to_last_lang(self, spark):
        from pulsar_spark.functions import langid_fit_predict

        # two languages with IDENTICAL training text: every doc scores
        # equal under both; the tie must go to the lexicographically
        # LAST language on both engines
        df = spark.createDataFrame(
            [(1, "same text here", "aa"), (2, "same text here", "bb")],
            "doc_id bigint, text string, lang string",
        )
        out = langid_fit_predict(df).collect()
        assert all(r.lang_pred == "bb" for r in out)


class TestConsumeRecovery:
    def test_flagged_rows_decrypt_under_late_key(self, spark, keys):
        from pulsar_spark.crypto import (
            CONSUME,
            decrypt_failed_rows,
            decrypt_messages,
            encrypt_messages,
            generate_rsa_keypair,
        )

        apriv, apub = keys
        bpriv, bpub = generate_rsa_keypair()
        enc = encrypt_messages(_payloads(spark, range(4)), {"a": apub}).unionByName(
            encrypt_messages(_payloads(spark, range(4, 8)), {"b": bpub}),
            allowMissingColumns=True,
        )
        # first pass as consumer a: b-rows flagged, ciphertext kept
        first = decrypt_messages(enc, "a", apriv, failure_action=CONSUME)
        assert first.where("crypto_failure").count() == 4
        # b's key arrives late: retry ONLY the flagged rows
        recovered = decrypt_failed_rows(first, "b", bpriv)
        rows = {r.event_id: r for r in recovered.collect()}
        assert len(rows) == 8
        assert all(not rows[i].crypto_failure for i in range(8))
        assert all(
            bytes(rows[i].payload) == f"msg-{i}".encode() for i in range(8)
        )

    def test_requires_consume_result(self, spark, keys):
        from pulsar_spark.crypto import decrypt_failed_rows

        with pytest.raises(ValueError, match="CONSUME-mode"):
            decrypt_failed_rows(_payloads(spark, [1]), "a", b"pem")


class TestLangidWordAnalyzer:
    # reuse the planted multilingual fixture without inheriting (a
    # subclass would re-run the parent's tests under a second name)
    VOCAB = TestTrainedLangid.VOCAB
    _fixture = TestTrainedLangid._fixture

    def test_word_analyzer_matches_char_on_planted_fixture(self, spark):
        from pulsar_spark.functions import langid_fit_predict

        docs = self._fixture(spark)
        truth = {r.doc_id: r.lang for r in docs.select("doc_id", "lang").collect()}
        # word mode requires a vocab cap (corpus-sized vocabulary);
        # 64 > the 30-word planted vocab, so the cap keeps everything
        pred = {
            r.doc_id: r.lang_pred
            for r in langid_fit_predict(
                docs, train_filter=F.col("doc_id") % 2 == 0, analyzer="word",
                top_k_per_lang=64,
            ).collect()
        }
        test_ids = [i for i in truth if i % 2 == 1]
        acc = sum(pred[i] == truth[i] for i in test_ids) / len(test_ids)
        assert acc >= 0.95, acc

    def test_unknown_analyzer_rejected(self, spark):
        from pulsar_spark.functions import langid_fit_predict

        with pytest.raises(ValueError, match="unknown analyzer"):
            langid_fit_predict(self._fixture(spark, 2, 5), analyzer="byte").collect()
