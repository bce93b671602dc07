"""Char-trigram language ID (operators/langid.py): shipped-profile
reproducibility, per-language goldens through the Spark operator,
Spark ↔ pure-Python twin parity, and decision-rule contracts."""

import os
import sys

import pytest

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)
sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
)

from cybersecurity_miw_spark.operators import langid  # noqa: E402

# Held-out sentences — NOT in data/lang_samples.tsv — one per
# profiled language. The deliberately longer no/da fixtures carry the
# orthography that separates the pair (ut/ud, ble/blev, gjennom/
# gennem, språk/sprog): a single parallel-translated sentence is
# genuinely ambiguous between them and correctly lands in 'und'.
HELD_OUT = {
    "en": "Many years later the family moved to another city and found new friends there.",
    "de": "Viele Jahre später zog die Familie in eine andere Stadt und fand dort neue Freunde.",
    "fr": "Plusieurs années plus tard, la famille a déménagé dans une autre ville et y a trouvé de nouveaux amis.",
    "es": "Muchos años después la familia se mudó a otra ciudad y encontró allí nuevos amigos.",
    "pt": "Muitos anos depois a família mudou-se para outra cidade e encontrou lá novos amigos.",
    "it": "Molti anni dopo la famiglia si trasferì in un'altra città e vi trovò nuovi amici.",
    "nl": "Vele jaren later verhuisde het gezin naar een andere stad en vond daar nieuwe vrienden.",
    "sv": "Många år senare flyttade familjen till en annan stad och fick nya vänner där.",
    "da": (
        "Mange år senere flyttede familien til en anden by. De rejste gennem "
        "bjergene og så en lille ø ud for kysten. Faderen gik ud af huset hver "
        "morgen og blev væk hele dagen, mens han arbejdede på fabrikken. "
        "Børnene lærte sproget hurtigt, og efter nogle uger talte de dansk "
        "med alle deres venner."
    ),
    "no": (
        "Mange år senere flyttet familien til en annen by. De reiste gjennom "
        "fjellene og så en liten øy utenfor kysten. Faren gikk ut av huset "
        "hver morgen og ble borte hele dagen mens han arbeidet på fabrikken. "
        "Barna lærte seg språket fort, og etter noen uker snakket de norsk "
        "med alle vennene sine."
    ),
    "fi": "Monta vuotta myöhemmin perhe muutti toiseen kaupunkiin ja sai sieltä uusia ystäviä.",
    "pl": "Wiele lat później rodzina przeprowadziła się do innego miasta i znalazła tam nowych przyjaciół.",
    "cs": "O mnoho let později se rodina přestěhovala do jiného města a našla tam nové přátele.",
    "ro": "Mulți ani mai târziu familia s-a mutat într-un alt oraș și a găsit acolo prieteni noi.",
    "hu": "Sok évvel később a család egy másik városba költözött, és ott új barátokat talált.",
    "tr": "Yıllar sonra aile başka bir şehre taşındı ve orada yeni arkadaşlar buldu.",
    "id": "Bertahun-tahun kemudian keluarga itu pindah ke kota lain dan menemukan teman baru di sana.",
    "vi": "Nhiều năm sau gia đình chuyển đến một thành phố khác và tìm thấy những người bạn mới ở đó.",
    "ru": "Много лет спустя семья переехала в другой город и нашла там новых друзей.",
    "uk": "Багато років по тому родина переїхала до іншого міста і знайшла там нових друзів.",
    "bg": (
        "Много години по-късно семейството се премести в друг град и намери "
        "там нови приятели. Те купиха стара къща до училището и бащата "
        "започна да работи във фабриката извън града. В началото на децата "
        "им беше трудно, но след няколко месеца вече говореха с всички на "
        "улицата."
    ),
}

SCRIPT_GATED = {
    "zh": "今天早上天气很冷，孩子们和他们的母亲一起留在家里。政府宣布新学校将建在医院旁边。",
    "ja": "今朝は寒かったので、子供たちは母親と一緒に家にいました。政府は新しい学校が病院の隣に建設されると発表しました。",
    "ko": "오늘 아침 날씨가 추워서 아이들은 어머니와 함께 집에 있었습니다.",
    "el": "Ο καιρός ήταν κρύος σήμερα το πρωί και τα παιδιά έμειναν στο σπίτι με τη μητέρα τους.",
    "he": "מזג האוויר היה קר הבוקר והילדים נשארו בבית עם אמם.",
    "hi": "आज सुबह मौसम ठंडा था और बच्चे अपनी माँ के साथ घर पर रहे।",
    "th": "เช้านี้อากาศหนาวและเด็กๆ อยู่บ้านกับแม่ของพวกเขา",
    "ar": "كان الطقس باردا هذا الصباح وبقي الأطفال في المنزل مع أمهم.",
}

UND_CASES = [
    "",  # empty
    "12345 67890 ++-- ### $$$ 42",  # no letters at all
    "ok",  # too few grams
    # a single parallel-translated sentence of the hardest pair:
    # below the ln(99) margin BY DESIGN (see HELD_OUT note)
    "Mange år senere flyttet familien til en annen by og fant nye venner der.",
]


@pytest.fixture(scope="module")
def profiles():
    return langid.load_lang_profiles()


def test_shipped_profiles_reproducible():
    """data/lang_profiles.tsv is byte-identical to a rebuild from
    data/lang_samples.tsv — the tool and the committed artifact can
    never drift (the PSL-file precedent)."""
    from build_lang_profiles import render_profiles_tsv

    with open(langid.DEFAULT_PROFILE_FILE, encoding="utf-8") as fh:
        committed = fh.read()
    assert committed == render_profiles_tsv()


def test_profile_inventory(profiles):
    # >= 20 languages incl. non-Latin scripts (the r16 VERDICT bar:
    # 21 trigram-profiled + 8 script-gated)
    assert len(profiles) == 21
    assert {"ru", "uk", "bg"} <= set(profiles)
    for lang, p in profiles.items():
        assert p["oov_micro"] < 0
        assert 0 < len(p["grams"]) <= langid.TOP_K_GRAMS
        # every weight is a negative micro-nat log-frequency above
        # the OOV floor
        assert all(
            p["oov_micro"] < w < 0 for w in p["grams"].values()
        ), lang


def _spark_detect(spark, texts, **kwargs):
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    rows = langid.detect_language(df, **kwargs).collect()
    return {r["doc_id"]: r for r in rows}


def test_spark_goldens_all_languages(spark, profiles):
    """Every held-out text classifies as its language through the
    SPARK operator; every script-gated text maps via the gate; every
    und case lands in 'und'. One operator call for all fixtures."""
    items = (
        sorted(HELD_OUT.items())
        + sorted(SCRIPT_GATED.items())
        + [("und", t) for t in UND_CASES]
    )
    got = _spark_detect(spark, [t for _, t in items], profiles=profiles)
    for i, (want, _) in enumerate(items):
        assert got[i]["lang"] == want, (i, items[i], got[i])
    # trigram rows carry integer score+margin; gated rows carry NULLs
    assert got[0]["lang_score_micro"] < 0
    assert got[0]["lang_margin_micro"] >= langid.MARGIN_MICRO
    n_held = len(HELD_OUT)
    assert got[n_held]["lang_score_micro"] is None  # ar (gate path)


def test_spark_matches_python_twin(spark, profiles):
    """Spark scores == the pure-Python reference on every fixture,
    including the und/edge cases — same lang, same score, same
    margin (bit-exact integer arithmetic)."""
    texts = (
        list(HELD_OUT.values())
        + list(SCRIPT_GATED.values())
        + UND_CASES
        + [
            "The weather was... hmm — 42% „vielleicht“?",
            "abc " * 3,
            "日本語と English の mixed テキスト with kana",
        ]
    )
    got = _spark_detect(spark, texts, profiles=profiles)
    for i, t in enumerate(texts):
        want = langid.py_detect(t, profiles)
        row = got[i]
        assert (
            row["lang"],
            row["lang_score_micro"],
            row["lang_margin_micro"],
        ) == want, (i, t)


def test_null_text_is_und(spark, profiles):
    df = spark.createDataFrame(
        [(1, None), (2, "The weather was cold and the children stayed home with their mother.")],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r["lang"]
        for r in langid.detect_language(df, profiles=profiles).collect()
    }
    assert rows == {1: "und", 2: "en"}


def test_row_count_preserved_and_deterministic(spark, profiles, sf_dir):
    """One output row per input doc over real testdata, and the
    assignment is identical under a different partitioning — the
    repartition bit-determinism contract every selection operator
    here keeps."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    a = langid.detect_language(docs, profiles=profiles)
    assert a.count() == docs.count()
    b = langid.detect_language(docs.repartition(7), profiles=profiles)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_with_language_join(spark, profiles):
    df = spark.createDataFrame(
        [(1, "Das Wetter war kalt und die Kinder blieben mit ihrer Mutter zu Hause, weil es geschneit hat.")],
        "doc_id long, text string",
    )
    out = langid.with_language(df, profiles=profiles)
    assert out.columns == ["doc_id", "text", "lang_guess"]
    assert out.collect()[0]["lang_guess"] == "de"


def test_margin_gate_matches_c4_citation(profiles):
    """The und margin is exactly ln(99) micro-nats — the log-space
    P>=0.99 gate (C4 §2.2)."""
    import math

    assert langid.MARGIN_MICRO == math.floor(1e6 * math.log(99)) + 1 or (
        abs(langid.MARGIN_MICRO - 1e6 * math.log(99)) < 1000
    )


def test_lang_report_counts(spark, profiles):
    """The per-language size audit: counts conserve the corpus,
    token counts are CJK-robust (the zh/ja/th rows report per-char
    volumes, not 1 'word' per doc), shares sum to ~1."""
    texts = list(HELD_OUT.values()) + list(SCRIPT_GATED.values())
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    rows = {r["lang"]: r for r in langid.lang_report(
        df, profiles=profiles
    ).collect()}
    assert sum(r["n_docs"] for r in rows.values()) == len(texts)
    assert abs(sum(r["doc_share"] for r in rows.values()) - 1.0) < 1e-3
    # CJK volumes: the zh fixture is ~40 Han chars — far more than
    # the 2 whitespace "words" naive splitting would report
    assert rows["zh"]["n_tokens"] > 20
    assert rows["th"]["n_tokens"] > 10
    assert rows["en"]["n_docs"] == 1


def test_random_text_parity_spark_vs_python(spark, profiles):
    """Batched random-text property: 60 deterministic pseudo-random
    strings drawn from mixed alphabets (ascii, accents, cyrillic,
    CJK, digits, punctuation, empty runs) classify IDENTICALLY
    (lang, score, margin) through Spark and the pure-Python twin —
    the fuzz net behind the curated fixtures."""
    import random

    rng = random.Random(0xBEEF)
    pools = [
        "abcdefghijklmnopqrstuvwxyz ",
        "àáâãäåçèéêëìíîïñ öüß ",
        "абвгдежзийклмнопрстуфхцч ",
        "一二三四五六七八九十天气学校",
        "ぁあいうえおかきくけこ",
        "0123456789 .,!?-#@'\"()[]{}",
        "   \t\n",
        "αβγδεζηθικλμ ",
        "שלוםהאבגדהוז ",
    ]
    texts = []
    for _ in range(60):
        n_seg = rng.randint(0, 8)
        segs = []
        for _ in range(n_seg):
            pool = rng.choice(pools)
            segs.append(
                "".join(rng.choice(pool) for _ in range(rng.randint(1, 40)))
            )
        texts.append("".join(segs))
    got = _spark_detect(spark, texts, profiles=profiles)
    for i, t in enumerate(texts):
        want = langid.py_detect(t, profiles)
        row = got[i]
        assert (
            row["lang"],
            row["lang_score_micro"],
            row["lang_margin_micro"],
        ) == want, (i, repr(t))


@pytest.mark.parametrize(
    "name",
    [
        "_lo", "_p", "_n", "_gate", "_ch", "_g", "gram", "ws",
        "lang", "lang_score_micro", "lang_margin_micro",
        "_mw_0", "_nm_12", "doc_id", "_GATE", "Lang",
    ],
)
def test_carry_name_colliding_with_pipeline_columns_rejected(
    spark, profiles, name
):
    """A carry column named like one of detect_language's own columns
    (internal, output, the indexed per-language aggregates, or id_col
    — compared case-insensitively, as Spark resolves them) fails with
    a clear ValueError instead of a shadowed or ambiguous column."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(1, "hello world")], "doc_id long, text string")
    with pytest.raises(ValueError, match=f"carry column name '{name}'"):
        langid.detect_language(df, profiles=profiles, carry={name: F.lit(1)})


def test_carry_name_used_by_lang_report_accepted(spark, profiles):
    """The ``_t`` token-count carry lang_report passes is not one of
    the pipeline's names and is carried through to the output."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, HELD_OUT["en"])], "doc_id long, text string"
    )
    row = langid.detect_language(
        df, profiles=profiles, carry={"_t": F.lit(7)}
    ).collect()[0]
    assert (row["doc_id"], row["_t"], row["lang"]) == (1, 7, "en")
