"""Hand-computed pins for the training-data-pipeline operators (dedup,
similarity, text features, evaluation math, multimodal stubs)."""

from __future__ import annotations

import hashlib
import math
import struct

import numpy as np
import pytest
from pyspark.sql import Row, functions as F

from webextract.evaluate import (
    confusion_matrix, iou_metrics, span_agreement, summary_metrics,
)
from webextract.functions.dedup import (
    exact_duplicates, lsh_candidate_pairs, ngram_jaccard_pairs,
    simhash16, with_minhash,
)
from webextract.functions.multimodal import media_features
from webextract.functions.similarity import knn_bruteforce, lsh_ann_topk
from webextract.functions.text import with_text_features


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        Row(doc_id=1, text="the quick brown fox jumps over the lazy dog"),
        Row(doc_id=2, text="the quick brown fox jumps over the lazy dog"),
        Row(doc_id=3, text="a completely different document about spark sql"),
        Row(doc_id=4, text="the quick brown fox jumps over the lazy cat"),
        Row(doc_id=5, text="xy"),
    ]
    return spark.createDataFrame(rows)


def test_exact_duplicates(docs):
    out = {r["fingerprint"]: (r["n_docs"], r["keep_id"])
           for r in exact_duplicates(docs).collect()}
    dup_fp = hashlib.md5(
        b"the quick brown fox jumps over the lazy dog").hexdigest()
    assert out[dup_fp] == (2, 1)
    assert sum(n for n, _ in out.values()) == 5


def test_minhash_identical_docs_identical_signatures(docs):
    sig = {r["doc_id"]: (r["mh0"], r["mh1"], r["mh2"], r["mh3"])
           for r in with_minhash(docs).collect()}
    assert sig[1] == sig[2]
    assert sig[1] != sig[3]
    assert sig[5] == (None, None, None, None)  # < 3 tokens -> no shingles


def test_lsh_candidates_catch_exact_dups(docs):
    pairs = {(r["doc_a"], r["doc_b"])
             for r in lsh_candidate_pairs(with_minhash(docs)).collect()}
    assert (1, 2) in pairs  # identical docs always collide
    # near-dup 1 vs 4 shares most shingles; may or may not band-collide,
    # but completely-different doc 3 must not pair with 5 (no signature)
    assert not any(5 in p for p in pairs)


def test_ngram_jaccard(docs):
    out = {(r["doc_a"], r["doc_b"]): r["jaccard"]
           for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    assert out[(1, 2)] == 1.0
    # doc 4 differs in last word: shingle sets are 7-element, 6 common
    # jaccard = 6 / (7 + 7 - 6) = 0.75
    assert out[(1, 4)] == 0.75
    assert out[(2, 4)] == 0.75
    assert (1, 3) not in out


def test_simhash_identical_and_sensitivity(docs):
    out = {r["doc_id"]: r["simhash16"] for r in simhash16(docs).collect()}
    assert out[1] == out[2]
    assert 0 <= out[1] < (1 << 16)
    assert out[1] != out[3]


def test_knn_bruteforce_matches_numpy(spark):
    rng = np.random.RandomState(7)
    vecs = rng.randn(30, 8).astype(np.float32)
    df = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(x) for x in vecs[i]])
         for i in range(30)])
    out = knn_bruteforce(df, df.filter(F.col("vec_id") < 3), k=2).collect()
    got = {(r["probe_id"], r["rank"]): (r["neighbor_id"], r["cos_sim"])
           for r in out}
    v = vecs.astype(np.float64)
    norms = np.sqrt((v * v).sum(axis=1))
    for p in range(3):
        cos = (v @ v[p]) / (norms * norms[p])
        cos[p] = -np.inf
        order = sorted(range(30), key=lambda i: (-round(cos[i], 4), i))
        for rank in (1, 2):
            nb, sc = got[(p, rank)]
            assert nb == order[rank - 1]
            assert sc == pytest.approx(round(cos[nb], 4), abs=1e-9)


def test_lsh_ann_subset_of_bucket_and_scores_exact(spark):
    rng = np.random.RandomState(11)
    vecs = rng.randn(60, 8).astype(np.float32)
    df = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(x) for x in vecs[i]])
         for i in range(60)])
    probes = df.filter(F.col("vec_id") < 5)
    approx = lsh_ann_topk(df, probes, k=3, n_planes=4, dim=8).collect()
    exact = {(r["probe_id"], r["neighbor_id"]): r["cos_sim"]
             for r in knn_bruteforce(df, probes, k=60).collect()}
    assert len(approx) > 0
    for r in approx:
        # every approximate hit carries the EXACT cosine score
        assert exact[(r["probe_id"], r["neighbor_id"])] == r["cos_sim"]


def test_text_features_pins(spark):
    df = spark.createDataFrame(
        [Row(doc_id=1, text="  the cat and   the dog of a  house ")])
    r = with_text_features(df).collect()[0]
    assert r["norm"] == "the cat and the dog of a house"
    assert r["n_tokens"] == 8
    # stopwords present: the, and, the, of, a -> 5
    assert r["n_stop"] == 5
    assert r["stop_ratio"] == 0.625
    assert r["guess_lang"] == "en"
    assert r["fingerprint"] == hashlib.md5(
        b"the cat and the dog of a house").hexdigest()


def test_lang_id_confusion_matrix(spark):
    # real sentences per supported language: the guess must agree with
    # the labeled lang on the diagonal for every row (plus the 'und'
    # row for marker-free text), the multilingual analog of A1
    rows = [
        Row(lang="en", text="the cat sat on the mat and the dog is a "
                            "friend of the house to all of us"),
        Row(lang="en", text="a day of rest is the best of the week and "
                            "the sun is warm to the touch"),
        Row(lang="de", text="der hund und die katze sind nicht im haus "
                            "und das wetter ist heute gut"),
        Row(lang="de", text="das buch und der tisch sind alt aber die "
                            "lampe ist neu und nicht teuer"),
        Row(lang="nl", text="de hond en de kat zijn niet in het huis en "
                            "het weer is vandaag een beetje koud"),
        Row(lang="nl", text="een man en een vrouw lopen van de winkel "
                            "naar het park en de zon schijnt niet"),
        Row(lang="es", text="el perro y el gato no estan en la casa y "
                            "es que los dias son largos"),
        Row(lang="fr", text="le chien et le chat ne sont pas dans la "
                            "maison et une femme est dans les jardins"),
        # round-7 Latin broadening: the remaining top-15 web languages
        Row(lang="pt", text="o cão e o gato não estão em casa para "
                            "brincar e uma chuva forte cai sobre os "
                            "telhados da cidade de lisboa"),
        Row(lang="it", text="il cane e il gatto non sono in casa per "
                            "giocare e una pioggia forte cade sopra i "
                            "tetti di roma"),
        Row(lang="pl", text="pies i kot nie są w domu oraz przez cały "
                            "dzień pada deszcz który jest zimny i się "
                            "robi późno"),
        Row(lang="tr", text="bu köpek ve kedi bugün evde değil ve bir "
                            "kuş için su ile ekmek koyduk"),
        Row(lang="vi", text="con chó và con mèo của tôi không có ở nhà "
                            "và một cơn mưa lớn rơi trên các mái nhà là "
                            "chuyện thường"),
        Row(lang="id", text="anjing dan kucing tidak ada di rumah ini "
                            "dan hujan yang deras turun untuk membasahi "
                            "atap dengan cepat"),
        Row(lang="zz", text="zyx wvu tsr qpo nml kji hgf edc ba"),
    ]
    feats = with_text_features(spark.createDataFrame(rows))
    got = {(r["lang"], r["guess_lang"]): 1
           for r in feats.select("lang", "guess_lang").collect()}
    for lang in ("en", "de", "nl", "es", "fr",
                 "pt", "it", "pl", "tr", "vi", "id"):
        assert (lang, lang) in got, (lang, sorted(got))
    assert ("zz", "und") in got
    # no off-diagonal guesses at all on this corpus
    assert all(g == (l if l != "zz" else "und") for l, g in got)


def test_portuguese_gets_its_own_stopword_base_not_spanish(spark):
    # the exact round-6 gap: a Portuguese page's only marker hits used
    # to be the shared es words (que), so it classified es and was then
    # scored against the SPANISH stopword base; with the pt marker set
    # it must classify pt and its stop_ratio must count PORTUGUESE
    # function words
    pt_article = ("o cão não está em casa para brincar e uma chuva "
                  "forte cai sobre os telhados da cidade de lisboa "
                  "onde uma mulher caminha para o mercado que fica "
                  "perto dos jardins e não longe de uma praça")
    out = with_text_features(spark.createDataFrame(
        [Row(doc_id=1, text=pt_article)])).collect()[0]
    assert out["guess_lang"] == "pt"
    # pt function words (de/que/não/uma/para/dos) are a real fraction
    assert out["n_stop"] >= 8
    assert out["stop_ratio"] >= 0.2
    assert out["quality_score"] >= 0.9


def test_script_lang_id_confusion_matrix(spark):
    # non-Latin scripts classify by Unicode code-point ratios BEFORE
    # the Latin marker argmax: zh/ja/ko/ru/ar/hi land on the diagonal
    # instead of collapsing into 'und'; kana presence wins over the
    # (majority-Han) kanji count for Japanese
    rows = [
        Row(lang="zh", text="这是一个测试网页的内容 它包含了常见的中文功能词"),
        Row(lang="ja", text="日本語の文章を書いています 内容は短いです"),
        Row(lang="ko", text="이것은 테스트 페이지입니다 한국어 문장을 씁니다"),
        Row(lang="ru", text="это тестовая страница и мы пишем на русском языке"),
        Row(lang="ar", text="هذه صفحة اختبار في موقعنا من أجل التحقق"),
        Row(lang="hi", text="यह एक परीक्षण पृष्ठ है के लिए हम हिंदी में लिखते हैं"),
        # round 7: Greek/Hebrew (word path) + Thai (unsegmented path)
        Row(lang="el", text="αυτή είναι μια δοκιμή και γράφουμε το κείμενο"
                            " στα ελληνικά με λέξεις που είναι συχνές"),
        Row(lang="he", text="זה עמוד בדיקה של האתר שלנו ואנחנו כותבים את"
                            " הטקסט בעברית והוא לא ארוך"),
        Row(lang="th", text="นี่คือหน้าทดสอบของเว็บไซต์"
                            " เราเขียนข้อความเป็นภาษาไทยและมันไม่ยาว"),
        # Latin fallback still works on the same DataFrame
        Row(lang="en", text="the cat sat on the mat and the dog is a friend"),
    ]
    feats = with_text_features(spark.createDataFrame(rows))
    got = {r["lang"]: r for r in feats.collect()}
    for lang in ("zh", "ja", "ko", "ru", "ar", "hi", "el", "he", "th",
                 "en"):
        assert got[lang]["guess_lang"] == lang, (lang, got[lang]["guess_lang"])
    # script-keyed stopword bases score nonzero for every script class
    for lang in ("zh", "ja", "ko", "ru", "ar", "hi", "el", "he", "th"):
        assert got[lang]["n_stop"] > 0, lang
        assert got[lang]["stop_ratio"] > 0, lang
    # Thai rides the unsegmented path: char-≈-token signals, no
    # whitespace mean-word-length (NULL like the CJK rows)
    assert got["th"]["mean_word_len"] is None
    assert got["he"]["mean_word_len"] is not None


def test_cjk_quality_gates(spark):
    # for CJK the per-token gates run over non-space chars (char ≈
    # token): a normal CJK page must NOT be zeroed by the whitespace
    # mean-word-length or token-2-gram gates, while a genuinely
    # repetitive CJK page is still caught by the char-bigram fraction
    normal = ("这是一个正常的中文网页内容 它包含了许多不同的句子和词语"
              " 我们在这里写了关于天气和生活的文字 内容丰富而且不重复"
              " 的是了在和不的确有很多常见字")
    spam = "买买买买买买买买买买买买买买买买买买买买买买买买买买买买买买"
    rows = [Row(doc_id=1, text=normal), Row(doc_id=2, text=spam)]
    out = {r["doc_id"]: r for r in
           with_text_features(spark.createDataFrame(rows)).collect()}
    assert out[1]["guess_lang"] == "zh"
    assert out[1]["quality_score"] > 0, dict(out[1].asDict())
    # the spam page: one char bigram covers ~the whole page
    assert out[2]["guess_lang"] == "zh"
    assert out[2]["top2gram_char_frac"] > 0.2
    assert out[2]["quality_score"] == 0.0


def test_quality_gate_separates_boilerplate_from_article(spark):
    article = ("the quick brown fox jumps over the lazy dog and the "
               "river flows to the sea while a bird sings in the tall "
               "tree near the old stone bridge of the quiet town")
    bullet_page = "\n".join(f"- item {i} link" for i in range(12))
    symbol_soup = " ".join("### ... #" for _ in range(15))
    teaser = "\n".join(f"read more about topic {i}..." for i in range(10))
    rows = [
        Row(doc_id=1, text=article),
        Row(doc_id=2, text=bullet_page),
        Row(doc_id=3, text=symbol_soup),
        Row(doc_id=4, text=teaser),
    ]
    out = {r["doc_id"]: r for r in
           with_text_features(spark.createDataFrame(rows)).collect()}
    assert out[1]["quality_score"] >= 0.9
    assert out[2]["bullet_line_ratio"] == 1.0
    assert out[3]["symbol_ratio"] > 0.1
    assert out[4]["ellipsis_line_ratio"] > 0.3
    for bad in (2, 3, 4):
        assert out[bad]["quality_score"] < 0.5, (bad, out[bad])
        assert out[1]["quality_score"] > out[bad]["quality_score"]


def test_confusion_and_iou_hand_computed(spark):
    # 10 pairs: a/a x4, a/b x2, b/b x3, b/a x1
    pairs = spark.createDataFrame(
        [Row(pred="a", gt="a")] * 4 + [Row(pred="a", gt="b")] * 2
        + [Row(pred="b", gt="b")] * 3 + [Row(pred="b", gt="a")] * 1)
    cm = confusion_matrix(pairs)
    got = {(r["pred"], r["gt"]): r["n"] for r in cm.collect()}
    assert got == {("a", "a"): 4, ("a", "b"): 2, ("b", "b"): 3, ("b", "a"): 1}
    per = {r["cls"]: r for r in iou_metrics(cm).collect()}
    # a: tp=4 fp=2 fn=1 -> iou 4/7 ; b: tp=3 fp=1 fn=2 -> iou 3/6
    assert per["a"]["iou"] == round(4 / 7, 6)
    assert per["b"]["iou"] == 0.5
    s = summary_metrics(iou_metrics(cm)).collect()[0]
    # avg of the ROUNDED per-class ious (0.571429, 0.5), HALF_UP at 6 dp
    assert s["miou"] == 0.535715
    assert s["pacc"] == 0.7


def test_span_agreement_exact_match(spark):
    def mk(url, spans):
        return Row(url=url, spans=[
            Row(span_id=f"{url}-{i}", region_class="paragraph",
                region_type="TextRegion", char_start=s, char_end=e,
                reading_order=i, confidence=1.0)
            for i, (s, e) in enumerate(spans)])

    extracted = spark.createDataFrame([mk("u1", [(0, 5), (6, 9)]),
                                       mk("u2", [(0, 4)])])
    expected = spark.createDataFrame([mk("u1", [(0, 5), (6, 9)]),
                                      mk("u2", [(0, 7)])])  # bounds differ
    out = {r["url"]: r for r in
           span_agreement(extracted, expected).collect()}
    assert out["u1"]["exact_match"] is True
    assert out["u2"]["exact_match"] is False
    assert out["u2"]["n_matched"] == 0


def test_media_features_fake_decode_pins(spark):
    payload = b"some media payload"
    df = spark.createDataFrame(
        [Row(media_id=1, payload=payload, kind="video"),
         Row(media_id=2, payload=None, kind="image")])
    from webextract.pipeline import ship_package
    ship_package(spark)
    out = {r["media_id"]: r for r in media_features(df).collect()}
    digest = hashlib.md5(payload).hexdigest()
    assert out[1]["digest"] == digest
    assert out[1]["width"] == 1 + int(digest[0:4], 16) % 1024
    assert out[1]["height"] == 1 + int(digest[4:8], 16) % 1024
    assert out[1]["n_frames"] == 1 + int(digest[8:12], 16) % 300
    assert out[1]["n_bytes"] == len(payload)
    assert out[2]["error"] == "null payload"


def _png_bytes(w: int, h: int) -> bytes:
    import struct
    ihdr = struct.pack(">II", w, h) + b"\x08\x02\x00\x00\x00"
    return (b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR"
            + ihdr + b"\x00\x00\x00\x00")


def _gif_bytes(w: int, h: int, frames: int) -> bytes:
    import struct
    out = b"GIF89a" + struct.pack("<HH", w, h) + b"\x00\x00\x00"
    for _ in range(frames):
        # image descriptor + no local table + LZW min + 1 sub-block + end
        out += b"\x2c" + struct.pack("<HHHH", 0, 0, w, h) + b"\x00"
        out += b"\x02\x01\x00\x00"
    return out + b"\x3b"


def _jpeg_bytes(w: int, h: int) -> bytes:
    import struct
    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
    sof0 = (b"\xff\xc0" + struct.pack(">H", 17) + b"\x08"
            + struct.pack(">HH", h, w) + b"\x03" + b"\x01\x11\x00" * 3)
    return b"\xff\xd8" + app0 + sof0 + b"\xff\xd9"


def _bmp_bytes(w: int, h: int) -> bytes:
    import struct
    info = struct.pack("<Iii", 40, w, -h) + b"\x00" * 28  # top-down height
    return b"BM" + struct.pack("<IHHI", 14 + 40, 0, 0, 54) + info


def test_media_real_backend_header_decode(spark):
    from webextract.pipeline import ship_package
    ship_package(spark)
    df = spark.createDataFrame([
        Row(media_id=1, payload=_png_bytes(640, 480), kind="image"),
        Row(media_id=2, payload=_gif_bytes(32, 16, 3), kind="image"),
        Row(media_id=3, payload=_jpeg_bytes(1920, 1080), kind="image"),
        Row(media_id=4, payload=_bmp_bytes(100, 200), kind="image"),
        Row(media_id=5, payload=b"\x00not a container", kind="image"),
        Row(media_id=6, payload=b"\x89PNG\r\n\x1a\n\x00", kind="image"),
    ])
    out = {r["media_id"]: r for r in
           media_features(df, backend="real").collect()}
    assert (out[1]["width"], out[1]["height"], out[1]["n_frames"]) \
        == (640, 480, None)
    assert (out[2]["width"], out[2]["height"], out[2]["n_frames"]) \
        == (32, 16, 3)
    assert (out[3]["width"], out[3]["height"]) == (1920, 1080)
    assert (out[4]["width"], out[4]["height"]) == (100, 200)
    assert "unsupported media container" in out[5]["error"]
    assert "truncated PNG" in out[6]["error"]
    for mid in (1, 2, 3, 4):
        assert out[mid]["error"] is None
        assert out[mid]["digest"] is not None


def _tiff_bytes(w, h, big_endian=False):
    # minimal valid TIFF: header -> one IFD with ImageWidth (LONG) and
    # ImageLength (SHORT, exercising the left-justified value field)
    import struct
    e = ">" if big_endian else "<"
    head = (b"MM\x00*" if big_endian else b"II*\x00") \
        + struct.pack(e + "I", 8)
    entries = (
        struct.pack(e + "HHI", 256, 4, 1) + struct.pack(e + "I", w)
        + struct.pack(e + "HHI", 257, 3, 1) + struct.pack(e + "H", h)
        + b"\x00\x00"
    )
    return head + struct.pack(e + "H", 2) + entries \
        + struct.pack(e + "I", 0)


def _avif_bytes(w, h):
    # minimal ISO-BMFF AVIF: ftyp(avif) + meta(FullBox){iprp{ipco{ispe}}}
    import struct

    def box(t, payload):
        return struct.pack(">I", 8 + len(payload)) + t + payload

    ftyp = box(b"ftyp", b"avif" + struct.pack(">I", 0) + b"avifmif1")
    ispe = box(b"ispe", struct.pack(">III", 0, w, h))
    meta = box(b"meta",
               struct.pack(">I", 0) + box(b"iprp", box(b"ipco", ispe)))
    return ftyp + meta


def test_media_tiff_avif_header_dims(spark):
    from webextract.pipeline import ship_package
    ship_package(spark)
    tiff_le, tiff_be = _tiff_bytes(1200, 800), _tiff_bytes(64, 48,
                                                           big_endian=True)
    avif = _avif_bytes(512, 384)
    df = spark.createDataFrame([
        Row(media_id=1, payload=tiff_le, kind="image"),
        Row(media_id=2, payload=tiff_be, kind="image"),
        Row(media_id=3, payload=avif, kind="image"),
        # crafted inputs stay per-row errors: IFD offset out of range,
        # missing ispe under an AVIF brand
        Row(media_id=4, payload=b"II*\x00\xff\xff\xff\xff", kind="image"),
        Row(media_id=5, payload=_avif_bytes(1, 1)[:16], kind="image"),
    ])
    out = {r["media_id"]: r for r in
           media_features(df, backend="real").collect()}
    assert (out[1]["width"], out[1]["height"], out[1]["n_frames"]) \
        == (1200, 800, None)
    assert (out[2]["width"], out[2]["height"]) == (64, 48)
    assert (out[3]["width"], out[3]["height"], out[3]["n_frames"]) \
        == (512, 384, 1)
    # digest-pinned: the features row carries the exact payload md5
    assert out[1]["digest"] == hashlib.md5(tiff_le).hexdigest()
    assert out[2]["digest"] == hashlib.md5(tiff_be).hexdigest()
    assert out[3]["digest"] == hashlib.md5(avif).hexdigest()
    assert "IFD offset out of range" in out[4]["error"]
    assert "missing meta box" in out[5]["error"]
    for mid in (1, 2, 3):
        assert out[mid]["error"] is None


def test_tiff_avif_pure_parsers():
    from webextract.functions.multimodal import _avif_info, _tiff_dims

    assert _tiff_dims(_tiff_bytes(7, 9)) == (7, 9, None)
    assert _tiff_dims(_tiff_bytes(7, 9, big_endian=True)) == (7, 9, None)
    assert _avif_info(_avif_bytes(30, 20)) == {
        "width": 30, "height": 20, "n_frames": 1}
    with pytest.raises(ValueError, match="implausible width"):
        _tiff_dims(_tiff_bytes(1 << 21, 9))       # bomb guard
    with pytest.raises(ValueError, match="missing ImageWidth"):
        import struct
        _tiff_dims(b"II*\x00" + struct.pack("<I", 8) + struct.pack("<H", 0)
                   + struct.pack("<I", 0))        # empty IFD
    with pytest.raises(ValueError, match="not a TIFF"):
        _tiff_dims(b"XX*\x00....")


def test_media_transform_fake_and_real_seam(spark):
    from webextract.functions.multimodal import media_transform
    from webextract.pipeline import ship_package

    ship_package(spark)
    df = spark.createDataFrame([
        Row(media_id=1, payload=b"some video bytes", kind="video"),
        Row(media_id=2, payload=b"an image payload", kind="image"),
    ])
    out = {r["media_id"]: r for r in media_transform(
        df, op="resize", width=256, height=256).collect()}
    digest1 = hashlib.md5(b"some video bytes").hexdigest()
    assert (out[1]["width"], out[1]["height"]) == (256, 256)
    assert out[1]["n_frames"] == 1 + int(digest1[8:12], 16) % 300
    assert out[1]["digest"] == hashlib.md5(
        f"{digest1}:resize:256x256".encode()).hexdigest()
    assert out[2]["n_frames"] is None and out[2]["error"] is None

    sampled = {r["media_id"]: r for r in media_transform(
        df, op="frame_sample", frame_every=7).collect()}
    import math
    assert sampled[1]["n_frames"] == math.ceil(
        (1 + int(digest1[8:12], 16) % 300) / 7)

    # real backend without decoder=: resize of a parseable container
    # (JPEG, PNG) is a per-row error naming the seam, never an
    # exception; an unknown container fails the header walk first
    real = media_transform(
        spark.createDataFrame(
            [Row(media_id=3, payload=_jpeg_bytes(8, 8), kind="image"),
             Row(media_id=4, payload=b"\x00unknown bytes", kind="image"),
             Row(media_id=5, payload=_png_bytes(8, 8), kind="image")]),
        op="resize", width=10, height=10, backend="real").collect()
    byid = {r["media_id"]: r for r in real}
    for mid in (3, 5):
        assert "pass decoder=" in byid[mid]["error"]
        assert byid[mid]["digest"] is None
    assert "unsupported media container" in byid[4]["error"]

    with pytest.raises(ValueError, match="unknown media op"):
        media_transform(df, op="rotate")
    with pytest.raises(ValueError, match="resize requires"):
        media_transform(df, op="resize", width=10)


def test_media_real_decode_pure_functions():
    # parser-level pins without Spark: GIF with global color table and an
    # extension block; JPEG with restart/fill markers before SOF2
    from webextract.functions.multimodal import (
        _gif_dims, _jpeg_dims, _real_decode,
    )
    import struct
    gct = b"GIF89a" + struct.pack("<HH", 7, 9) + b"\x80\x00\x00" \
        + b"\x00" * 6 \
        + b"\x21\xf9\x04\x00\x00\x00\x00\x00" \
        + b"\x2c" + struct.pack("<HHHH", 0, 0, 7, 9) + b"\x00" \
        + b"\x02\x01\x00\x00" + b"\x3b"
    assert _gif_dims(gct) == (7, 9, 1)
    prog = (b"\xff\xd8" + b"\xff\xff"  # fill byte
            + b"\xff\xc2" + struct.pack(">H", 17) + b"\x08"
            + struct.pack(">HH", 8, 6) + b"\x03" + b"\x01\x11\x00" * 3)
    assert _jpeg_dims(prog) == (6, 8, None)
    import pytest as _pytest
    with _pytest.raises(ValueError):
        _real_decode(b"RIFF....WAVE", "audio")
    # GIFs written by real encoders (the stdlib's idlelib icons: local
    # tables, extensions, LZW sub-blocks) walk to the trailer cleanly
    import glob
    import os

    import idlelib

    for path in glob.glob(os.path.join(
            os.path.dirname(idlelib.__file__), "Icons", "*.gif")):
        w, h, frames = _gif_dims(open(path, "rb").read())
        assert w > 0 and h > 0 and frames >= 1, path


def test_media_transform_real_gif_frame_sample(spark):
    from webextract.functions.multimodal import media_transform
    from webextract.pipeline import ship_package

    ship_package(spark)
    out = media_transform(
        spark.createDataFrame(
            [Row(media_id=1, payload=_gif_bytes(8, 6, 5), kind="image")]),
        op="frame_sample", frame_every=2, backend="real").collect()[0]
    assert out["error"] is None
    assert (out["width"], out["height"]) == (8, 6)
    assert out["n_frames"] == 3  # ceil(5/2) over the REAL frame walk


def test_ivf_ann_recall_and_exact_scores(spark):
    from webextract.functions.similarity import ivf_ann_topk

    rng = np.random.RandomState(3)
    vecs = rng.randn(200, 16).astype(np.float32)
    df = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(x) for x in vecs[i]])
         for i in range(200)])
    probes = df.filter(F.col("vec_id") < 10)
    exact_all = {(r["probe_id"], r["neighbor_id"]): r["cos_sim"]
                 for r in knn_bruteforce(df, probes, k=200).collect()}
    top3 = {}
    for (p, n), c in exact_all.items():
        top3.setdefault(p, []).append((c, n))

    # both quantizers: the deterministic hash-sampled one (oracle-checked
    # by the driver too) and the Lloyd-refined KMeans one with a SAMPLED
    # fit (the at-scale shape — fit never sees the full corpus)
    variants = {
        "hash": ivf_ann_topk(df, probes, k=3, n_centroids=8, n_probe=3),
        "kmeans": ivf_ann_topk(df, probes, k=3, n_centroids=8, n_probe=3,
                               quantizer="kmeans", fit_fraction=0.5),
    }
    for name, approx in variants.items():
        rows = approx.collect()
        assert len(rows) == 30, name  # 10 probes x k=3 (candidates ample)
        hits = 0
        for r in rows:
            # every IVF hit carries the EXACT cosine score
            assert exact_all[(r["probe_id"], r["neighbor_id"])] == r["cos_sim"]
            true_top = {n for _, n in
                        sorted(top3[r["probe_id"]],
                               key=lambda t: (-t[0], t[1]))[:3]}
            hits += r["neighbor_id"] in true_top
        recall = hits / 30
        # pinned floors on the seeded corpus (measured: hash 0.833,
        # kmeans 0.900 at 3/8 clusters searched) — a pyspark.ml version
        # bump that silently degrades the sampled KMeans fit fails here
        floor = {"hash": 0.8, "kmeans": 0.85}[name]
        assert recall >= floor, (name, recall)


def test_curate_corpus_stages(spark):
    from webextract.functions.curate import curate_corpus

    base = ("the quick brown fox jumps over the lazy dog and runs through "
            "a field of tall green grass while the sun is warm and the "
            "wind is soft in the valley near the river bend where birds "
            "sing")
    neardup = base.rsplit(" ", 1)[0] + " hum"  # one word differs
    rows = [
        Row(doc_id=1, text=base),
        Row(doc_id=2, text=base),     # exact dup -> keep-first drops it
        Row(doc_id=3, text=neardup),  # near dup (jaccard > 0.8) -> dropped
        Row(doc_id=4, text="ab cd"),  # 2 tokens -> quality 0 -> filtered
    ]
    out = curate_corpus(spark.createDataFrame(rows),
                        min_quality=0.3, threshold=0.8).collect()
    assert [(r["doc_id"], r["n_tokens"], r["quality_score"]) for r in out] \
        == [(1, 38, 1.0)]
    # determinism: id order flipped -> the new lowest id survives
    flipped = [Row(doc_id=9, text=base), Row(doc_id=5, text=base)]
    out2 = curate_corpus(spark.createDataFrame(flipped),
                         min_quality=0.3, threshold=0.8).collect()
    assert [r["doc_id"] for r in out2] == [5]


def test_duplicate_groups_transitive(spark):
    from webextract.functions.dedup import duplicate_groups

    pairs = spark.createDataFrame([
        Row(doc_a=3, doc_b=7), Row(doc_a=7, doc_b=9),   # chain 3~7~9
        Row(doc_a=20, doc_b=21),                        # disjoint pair
    ])
    out = {r["doc_id"]: r["group_id"]
           for r in duplicate_groups(pairs).collect()}
    assert out == {3: 3, 7: 3, 9: 3, 20: 20, 21: 20}
    # empty input -> empty grouping, no crash
    assert duplicate_groups(pairs.limit(0)).count() == 0


def test_curate_corpus_transitive_vs_greedy(spark):
    from webextract.functions.curate import curate_corpus

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi "
            "psi omega one two three four five six seven eight nine ten")
    words = base.split()
    # chain a~b~c (interior one-word edits: jaccard 0.829 each) whose
    # MIDDLE doc carries the highest id; a~c (0.684) never verifies.
    # Greedy drops only the shared middle (doc 9, the doc_b of both
    # pairs) and keeps BOTH chain ends; transitive collapses the whole
    # component to its min id.
    a = " ".join(words)
    wb = list(words); wb[9] = "hum"
    wc = list(wb); wc[19] = "hop"
    rows = [Row(doc_id=1, text=a), Row(doc_id=9, text=" ".join(wb)),
            Row(doc_id=5, text=" ".join(wc))]
    docs = spark.createDataFrame(rows)
    greedy = sorted(r["doc_id"] for r in curate_corpus(
        docs, min_quality=0.3, threshold=0.8).collect())
    transitive = sorted(r["doc_id"] for r in curate_corpus(
        docs, min_quality=0.3, threshold=0.8, transitive=True).collect())
    assert greedy == [1, 5]       # doc 5 survives only because its
    assert transitive == [1]      # duplicate (9) was itself dropped


def test_curate_corpus_staged_candidates_match_fused(spark):
    from webextract.functions.curate import curate_corpus
    from webextract.functions.dedup import lsh_candidate_pairs, with_minhash

    base = ("the quick brown fox jumps over the lazy dog and runs through "
            "a field of tall green grass while the sun is warm and the "
            "wind is soft in the valley near the river bend where birds "
            "sing")
    rows = [
        Row(doc_id=1, text=base),
        Row(doc_id=2, text=base),
        Row(doc_id=3, text=base.rsplit(" ", 1)[0] + " hum"),
        Row(doc_id=4, text="ab cd"),
    ]
    docs = spark.createDataFrame(rows)
    fused = sorted(r["doc_id"] for r in curate_corpus(
        docs, min_quality=0.3, threshold=0.8).collect())
    # production shape: corpus-level candidates precomputed once, fed in
    cands = lsh_candidate_pairs(
        with_minhash(docs), persist_bands=False).localCheckpoint(eager=False)
    staged = sorted(r["doc_id"] for r in curate_corpus(
        docs, min_quality=0.3, threshold=0.8, candidates=cands).collect())
    assert staged == fused == [1]
    # deepest staging: corpus-level VERIFIED pairs fed in, verification
    # skipped entirely — identical survivors
    from webextract.functions.dedup import near_duplicate_docs

    pairs = near_duplicate_docs(docs, threshold=0.8) \
        .localCheckpoint(eager=False)
    via_pairs = sorted(r["doc_id"] for r in curate_corpus(
        docs, min_quality=0.3, threshold=0.8, pairs=pairs).collect())
    assert via_pairs == fused


def test_dedup_increment_rules(spark):
    """Incremental snapshot dedup, each rule pinned: corpus exact dup,
    corpus near dup, in-batch exact dup (keep-lowest), in-batch near dup
    (keep-lowest), fresh doc survives; corpus docs are never emitted."""
    from webextract.functions.dedup import dedup_increment

    base = ("the quick brown fox jumps over the lazy dog and runs through "
            "a field of tall green grass while the sun is warm and the "
            "wind is soft in the valley near the river bend where birds "
            "sing all day")
    other = ("completely different content about cooking pasta with "
             "tomatoes garlic and fresh basil in a large pot of salted "
             "boiling water until it is done and ready to serve tonight "
             "for the family dinner")
    corpus = spark.createDataFrame([
        Row(doc_id=2, text=base),
        Row(doc_id=4, text="short corpus row"),
    ])
    near = base.rsplit(" ", 1)[0] + " hum"
    new = spark.createDataFrame([
        Row(doc_id=11, text=base),                       # corpus exact dup
        Row(doc_id=13, text=near),                       # corpus near dup
        Row(doc_id=15, text=other),                      # fresh: survives
        Row(doc_id=17, text=other),                      # in-batch exact dup
        Row(doc_id=19, text=other.rsplit(" ", 1)[0] + " zzz"),  # near of 15
    ])
    out = sorted(r["doc_id"] for r in dedup_increment(new, corpus).collect())
    assert out == [15]
    # in-batch keep-lowest: with 15 absent, 17 would have survived
    out2 = sorted(r["doc_id"] for r in dedup_increment(
        new.filter(F.col("doc_id") != 15), corpus).collect())
    assert out2 == [17]
    # precomputed corpus stage tables (the at-scale shape) give the
    # same answer without touching corpus text for signatures
    from webextract.functions.dedup import with_minhash
    from webextract.functions.text import norm_text

    cfp = corpus.select("doc_id", F.md5(F.encode(norm_text("text"),
                                                 "UTF-8"))
                        .alias("fingerprint"))
    csig = with_minhash(corpus)
    out3 = sorted(r["doc_id"] for r in dedup_increment(
        new, corpus, corpus_fingerprints=cfp,
        corpus_signatures=csig).collect())
    assert out3 == [15]


def test_curate_full_stage_path_matches_local_checkpoint(spark, tmp_path):
    """The distributed-safe clean-stage materialization (stage_path →
    durable parquet, recomputable after executor loss) must produce the
    same survivors as the local benchmarking default (localCheckpoint),
    and must actually write the stage table."""
    import __spark_entry__ as entrymod
    from webextract.functions.curate import curate_full

    sf_dir = "/root/testdata/sf0.001"
    docs = entrymod._crawl_corpus(spark, sf_dir)
    bench = entrymod._docs(spark, sf_dir).filter(
        F.col("doc_id") % 13 == 0).select(
        F.array_join(
            F.slice(F.split(F.trim(F.regexp_replace("text", r"\s+", " ")),
                            " "), 1, 12), " ").alias("text"))
    blocked = spark.sql("SELECT 'spam.seofarm.net' AS domain")

    base = sorted(
        tuple(r) for r in curate_full(
            docs, blocked, bench, min_quality=0.5, threshold=0.8,
            budget_tokens=3000).collect())
    stage = str(tmp_path / "clean_stage")
    staged = sorted(
        tuple(r) for r in curate_full(
            docs, blocked, bench, min_quality=0.5, threshold=0.8,
            budget_tokens=3000, stage_path=stage).collect())
    assert staged == base and len(base) > 0
    # the stage table is a real durable parquet dataset, re-readable
    clean = spark.read.parquet(stage)
    assert clean.count() > 0 and "text" in clean.columns


@pytest.mark.parametrize("query", ["curate_full", "dup_groups",
                                   "dedup_increment", "jaccard_pairs"])
def test_composed_queries_leave_no_cached_relation(spark, query):
    """Composed stages materialize with localCheckpoint, which the
    ContextCleaner frees; none may leave a relation in Spark's
    CacheManager, where it would outlive the query in a long-lived
    session."""
    import __spark_entry__ as entrymod

    spark.catalog.clearCache()
    entrymod.queries()[query](spark, "/root/testdata/sf0.001").collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_near_duplicate_pairs_lsh_subset_of_exact(spark):
    from webextract.functions.similarity import (
        near_duplicate_pairs, near_duplicate_pairs_lsh,
    )

    rng = np.random.RandomState(7)
    base = rng.randn(40, 16).astype(np.float32)
    # plant near-duplicates: vectors 30..39 are jittered copies of 0..9
    vecs = np.vstack([base, base[:10] + 0.01 * rng.randn(10, 16).astype(np.float32)])
    df = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(x) for x in vecs[i]])
         for i in range(len(vecs))])
    exact = {(r["id_a"], r["id_b"]): r["cos_sim"]
             for r in near_duplicate_pairs(df, threshold=0.95).collect()}
    lsh = {(r["id_a"], r["id_b"]): r["cos_sim"]
           for r in near_duplicate_pairs_lsh(
               df, threshold=0.95, dim=16).collect()}
    # exact precision: every emitted pair carries the true cosine
    for pair, sim in lsh.items():
        assert exact[pair] == sim
    # recall: banding (2 bands of 4 planes) catches most planted pairs —
    # a single 8-plane bucket only has ~(1-θ/π)^8 collision probability
    assert len(lsh) >= len(exact) * 0.8 > 0
    single = {(r["id_a"], r["id_b"]): r["cos_sim"]
              for r in near_duplicate_pairs_lsh(
                  df, threshold=0.95, n_bands=1, dim=16).collect()}
    # the banded candidate set is a superset of the all-planes bucket's
    assert set(single) <= set(lsh)


def test_token_count_regex_pins(spark):
    from webextract.functions.text import token_count_regex

    rows = spark.createDataFrame([
        Row(t="hello, world! it's 42"),
        Row(t="abc"),
        Row(t=""),
    ]).select(token_count_regex(F.col("t")).alias("n")).collect()
    # hello , world ! it ' s 42 -> 8 tokens; abc -> 1; '' -> 0
    assert [r["n"] for r in rows] == [8, 1, 0]


def test_winnow_fingerprint_edit_robustness(spark):
    from webextract.functions.text import norm_text, winnow_fingerprint

    words = [f"w{i}" for i in range(60)]
    a = " ".join(words)
    changed = list(words); changed[30] = "XX"
    b = " ".join(changed)
    df = spark.createDataFrame(
        [Row(doc_id=1, text=a), Row(doc_id=2, text=b),
         Row(doc_id=3, text=a), Row(doc_id=4, text="tiny doc")])
    out = {r["doc_id"]: r["winnow_fp"] for r in df.select(
        "doc_id", winnow_fingerprint(norm_text("text")).alias("winnow_fp")
    ).collect()}
    assert out[1] == out[3]          # identical docs -> identical fp
    assert out[1] != out[2]          # an edit changes the fingerprint
    assert out[4] == hashlib.md5(b"tiny doc").hexdigest()  # short-doc path


def test_ivf_unknown_quantizer_rejected(spark):
    from webextract.functions.similarity import ivf_ann_topk

    df = spark.createDataFrame([Row(vec_id=1, embedding=[1.0, 0.0])])
    with pytest.raises(ValueError, match="quantizer"):
        ivf_ann_topk(df, df, quantizer="nope")


def test_lsh_bucket_requires_dim(spark):
    from webextract.functions.similarity import with_lsh_bucket

    df = spark.createDataFrame([Row(vec_id=1, embedding=[1.0, 0.0])])
    with pytest.raises(ValueError, match="dim"):
        with_lsh_bucket(df)


def test_near_duplicate_docs_composed(docs):
    from webextract.functions.dedup import near_duplicate_docs

    out = {(r["doc_a"], r["doc_b"]): r["jaccard"]
           for r in near_duplicate_docs(docs, threshold=0.5).collect()}
    # exact-dup pair always survives (LSH always banding-collides) with
    # the TRUE jaccard value
    assert out[(1, 2)] == 1.0
    # emitted scores equal the exact all-pairs computation (precision)
    exact = {(r["doc_a"], r["doc_b"]): r["jaccard"]
             for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    for pair, j in out.items():
        assert exact[pair] == j
    # and candidates are a subset of the exact result's pairs
    assert set(out) <= set(exact)

    # staged shape: precomputed signatures -> candidates -> verify must
    # give the identical result (this is how a production run shares the
    # shingle/signature stage across consumers instead of recomputing it)
    from webextract.functions.dedup import lsh_candidate_pairs, with_minhash

    sig = with_minhash(docs).persist()
    try:
        cands = lsh_candidate_pairs(sig, persist_bands=False)
        staged = {(r["doc_a"], r["doc_b"]): r["jaccard"]
                  for r in near_duplicate_docs(
                      docs, threshold=0.5, candidates=cands).collect()}
        assert staged == out
    finally:
        sig.unpersist()


def test_media_transform_injected_decoder_seam(spark):
    # decoder= hook: the only real-backend pixel path. A native codec
    # (here a stub) decodes any container the header walk accepts; its
    # pixels feed the nearest-neighbor resize/digest plumbing, and its
    # exceptions are per-row errors
    import numpy as np_

    from webextract.functions.multimodal import media_transform
    from webextract.pipeline import ship_package

    ship_package(spark)
    w, h = 4, 4
    rgb = bytes((11 * i) % 256 for i in range(w * h * 3))

    def _stub_decoder(payload: bytes):
        # a stand-in native codec keyed on the container: 2x1 gray plane
        # for PNG, a 4x4 RGB image for BMP, a decode failure otherwise
        # (nested def: cloudpickle ships it by value to executors)
        if payload.startswith(b"\x89PNG"):
            return 2, 1, 1, bytes([10, 250])
        if payload.startswith(b"BM"):
            return w, h, 3, rgb
        raise ValueError("stub codec: corrupt scan")

    df = spark.createDataFrame([
        Row(media_id=1, payload=_png_bytes(4, 4), kind="image"),
        Row(media_id=2, payload=_bmp_bytes(w, h), kind="image"),
        Row(media_id=3, payload=_jpeg_bytes(8, 8), kind="image"),
    ])
    out = {r["media_id"]: r for r in media_transform(
        df, op="resize", width=2, height=2, backend="real",
        decoder=_stub_decoder).collect()}
    assert out[1]["error"] is None and out[2]["error"] is None
    assert (out[2]["width"], out[2]["height"]) == (2, 2)
    # NN-resize of the stub's 2x1 gray plane to 2x2
    assert out[1]["digest"] == hashlib.md5(
        bytes([10, 250, 10, 250])).hexdigest()
    # downscale keeps every other row/column of the decoded pixels
    arr = np_.frombuffer(rgb, dtype=np_.uint8).reshape(h, w, 3)
    assert out[2]["digest"] == hashlib.md5(
        arr[::2][:, ::2].tobytes()).hexdigest()
    assert out[3]["digest"] is None
    assert out[3]["error"] == "ValueError: stub codec: corrupt scan"
    # upscale is also well-defined (no interpolation, index replication)
    up = media_transform(
        df.filter("media_id = 2"), op="resize", width=8, height=8,
        backend="real", decoder=_stub_decoder).collect()[0]
    ys = (np_.arange(8) * 4) // 8
    assert up["digest"] == hashlib.md5(
        arr[ys][:, ys].tobytes()).hexdigest()


def test_repetition_gates_kill_spam_pages(spark):
    # Gopher repetition gates (Rae et al. 2021 §A1.1): a copy-pasted-line
    # page and a phrase-spam page gate to 0 while clean article text is
    # untouched by the new gates
    article = ("the quick brown fox jumps over the lazy dog and the "
               "river flows to the sea while a bird sings in the tall "
               "tree near the old stone bridge of the quiet town")
    dup_lines = "\n".join(["click here to subscribe now and win"] * 10)
    phrase_spam = " ".join(["the best cheap deals"] * 20)
    out = {r["doc_id"]: r for r in with_text_features(
        spark.createDataFrame([
            Row(doc_id=1, text=article),
            Row(doc_id=2, text=dup_lines),
            Row(doc_id=3, text=phrase_spam),
        ])).collect()}
    assert out[1]["dup_line_frac"] == 0.0
    assert out[1]["top2gram_char_frac"] < 0.2
    assert out[1]["quality_score"] >= 0.9
    assert out[2]["dup_line_frac"] == 0.9
    assert out[2]["quality_score"] == 0.0
    assert out[3]["top2gram_char_frac"] > 0.2
    assert out[3]["quality_score"] == 0.0


def test_language_aware_stopword_base(spark):
    # a French article must score like an English article: its stop_ratio
    # counts FRENCH function words once guess_lang = fr (under an
    # English-only base the stop score would be ~0 and the quality ~0.5)
    fr_article = ("le chien et le chat ne sont pas dans la maison et une "
                  "femme est dans les jardins pres de la riviere et le "
                  "vent souffle sur les arbres de la ville")
    fr_boiler = "\n".join(["cliquez ici pour acheter maintenant"] * 8)
    out = {r["doc_id"]: r for r in with_text_features(
        spark.createDataFrame([
            Row(doc_id=1, text=fr_article),
            Row(doc_id=2, text=fr_boiler),
        ])).collect()}
    assert out[1]["guess_lang"] == "fr"
    assert out[1]["stop_ratio"] >= 0.25
    assert out[1]["quality_score"] >= 0.9
    assert out[2]["quality_score"] == 0.0
    assert out[1]["quality_score"] > out[2]["quality_score"]


def test_paragraph_dedup_drops_boilerplate_keeps_order(spark):
    from webextract.functions.dedup import paragraph_dedup

    footer = "all rights reserved"
    rows = [
        Row(doc_id=1, text=f"alpha body one\n{footer}\nunique tail one"),
        Row(doc_id=2, text=f"beta body two\n{footer}"),
        Row(doc_id=3, text=f"gamma body three\n\n  {footer}  \nend"),
        Row(doc_id=4, text="untouched  document,\twith   raw spacing"),
        Row(doc_id=5, text="\n\n"),  # no non-empty paragraphs -> absent
    ]
    out = {r["id"]: r for r in paragraph_dedup(
        spark.createDataFrame(rows), max_occurrences=2).collect()}
    # footer occurs 3x (> 2) -> dropped everywhere (counted on the
    # normalized form, so doc 3's padded variant matches too)
    assert out[1]["kept_text"] == "alpha body one\nunique tail one"
    assert (out[1]["n_paras"], out[1]["n_dropped"]) == (3, 1)
    assert out[2]["kept_text"] == "beta body two"
    assert out[3]["kept_text"] == "gamma body three\nend"
    assert out[3]["n_paras"] == 3  # empty line is not a paragraph
    # surviving paragraphs keep their ORIGINAL bytes (CCNet: normalize
    # for hashing only, never rewrite the kept text)
    assert out[4]["kept_text"] == "untouched  document,\twith   raw spacing"
    assert out[4]["n_dropped"] == 0
    assert 5 not in out
    # max_occurrences=3 keeps the footer (count == 3 is allowed)
    kept = {r["id"]: r["kept_text"] for r in paragraph_dedup(
        spark.createDataFrame(rows), max_occurrences=3).collect()}
    assert kept[2] == f"beta body two\n{footer}"


def test_pii_masking_counts_and_sentinels(spark):
    from webextract.functions.hygiene import with_pii_masked

    rows = [
        Row(doc_id=1, text="mail jane.doe+x@sub.example.co.uk or call "
                           "+31 20 5551234 now"),
        Row(doc_id=2, text="server at 192.168.1.1 and backup 10.0.0.2"),
        Row(doc_id=3, text="compact +14155551234 works"),
        Row(doc_id=4, text="no pii: just 1234, a.b, and price +99"),
    ]
    out = {r["doc_id"]: r for r in with_pii_masked(
        spark.createDataFrame(rows)).collect()}
    assert out[1]["masked_text"] == "mail <EMAIL> or call <PHONE> now"
    assert (out[1]["n_emails"], out[1]["n_phones"], out[1]["n_ips"]) \
        == (1, 1, 0)
    assert out[2]["masked_text"] == "server at <IP> and backup <IP>"
    assert out[2]["n_ips"] == 2
    assert out[3]["masked_text"] == "compact <PHONE> works"
    assert out[4]["masked_text"] == rows[3].text  # untouched
    assert out[4]["has_pii"] is False
    assert out[1]["has_pii"] is True


def test_decontaminate_flags_benchmark_overlap(spark):
    from webextract.functions.hygiene import decontaminate

    secret = ("the capital of france is paris and the capital of spain "
              "is madrid")
    docs = spark.createDataFrame([
        Row(doc_id=1, text=f"intro words here {secret} trailing words"),
        Row(doc_id=2, text="a completely unrelated document about spark "
                           "sql query planning and shuffle exchanges"),
        Row(doc_id=3, text="too short to gram"),
    ])
    bench = spark.createDataFrame([Row(text=secret)])
    out = {r["id"]: r for r in decontaminate(docs, bench, n=8).collect()}
    assert len(out) == 3  # every doc present, clean ones with 0
    assert out[1]["contaminated"] is True and out[1]["n_overlap"] >= 1
    assert out[2]["contaminated"] is False and out[2]["n_overlap"] == 0
    assert out[3]["contaminated"] is False


def test_domain_stats_and_blocklist(spark):
    from webextract.functions.hygiene import (
        domain_stats, filter_blocklist,
    )

    docs = spark.createDataFrame([
        Row(doc_id=1, url="https://News.Example.com/a", text="xx"),
        Row(doc_id=2, url="https://news.example.com:8443/b?q=1",
            text="yyy"),
        Row(doc_id=3, url="http://spam.seofarm.net/z", text="zz"),
        Row(doc_id=4, url="not a url", text="w"),
        Row(doc_id=5, url="http://bot@spam.seofarm.net:8080/q",
            text="vv"),
    ])
    stats = {r["domain"]: r for r in domain_stats(docs).collect()}
    # case-folded; port stripped, so :8443 joins the bare-host bucket
    assert stats["news.example.com"]["n_docs"] == 2
    assert stats["news.example.com"]["total_chars"] == 5
    assert stats[""]["n_docs"] == 1  # unparseable -> '' bucket
    blocked = spark.createDataFrame([Row(domain="spam.seofarm.net")])
    kept = filter_blocklist(docs, blocked)
    # the port/userinfo variants of the blocked host are dropped too
    assert sorted(r["doc_id"] for r in kept.collect()) == [1, 2, 4]
    assert "_domain" not in kept.columns


def test_stratified_sample_deterministic_rates(spark):
    from webextract.functions.hygiene import stratified_sample

    docs = spark.range(0, 4000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "en").otherwise("zh").alias("lang"))
    rates = {"en": 0.5, "zh": 0.1}
    a = sorted(r["doc_id"] for r in stratified_sample(
        docs, rates, strata_col="lang").collect())
    b = sorted(r["doc_id"] for r in stratified_sample(
        docs, rates, strata_col="lang").collect())
    assert a == b  # rerun-identical: hash-based, no rand()
    by_lang = {
        lang: sum(1 for r in stratified_sample(
            docs, rates, strata_col="lang").collect() if r["lang"] == lang)
        for lang in ("en", "zh")
    }
    assert abs(by_lang["en"] / 2000 - 0.5) < 0.05
    assert abs(by_lang["zh"] / 2000 - 0.1) < 0.03
    c = sorted(r["doc_id"] for r in stratified_sample(
        docs, rates, strata_col="lang", salt="other").collect())
    assert a != c  # independent draw under a different salt


def _encode_wav(n_frames: int, rate: int = 8000, nch: int = 2,
                bits: int = 16) -> bytes:
    """Minimal RIFF/WAVE writer (PCM): deterministic sawtooth samples."""
    import struct as st

    balign = nch * bits // 8
    data = b"".join(
        st.pack("<" + "h" * nch, *[(i * 37 + c * 11) % 32768 - 16384
                                   for c in range(nch)])
        for i in range(n_frames))
    fmt = st.pack("<HHIIHH", 1, nch, rate, rate * balign, balign, bits)
    body = (b"WAVE" + b"fmt " + st.pack("<I", len(fmt)) + fmt
            + b"data" + st.pack("<I", len(data)) + data)
    return b"RIFF" + st.pack("<I", len(body)) + body


def _encode_avi(w: int, h: int, n_frames: int,
                us_per_frame: int = 40000) -> bytes:
    """Minimal RIFF/AVI with just the LIST/hdrl avih main header."""
    import struct as st

    avih = st.pack("<IIIIIIIIII", us_per_frame, 0, 0, 0, n_frames,
                   0, 1, 0, w, h) + b"\x00" * 16  # 56-byte MainAVIHeader
    hdrl = b"hdrl" + b"avih" + st.pack("<I", len(avih)) + avih
    body = b"AVI " + b"LIST" + st.pack("<I", len(hdrl)) + hdrl
    return b"RIFF" + st.pack("<I", len(body)) + body


def test_media_features_real_wav_and_avi(spark):
    from webextract.functions.multimodal import media_features
    from webextract.pipeline import ship_package

    ship_package(spark)
    wav = _encode_wav(1000, rate=8000, nch=2, bits=16)
    avi = _encode_avi(320, 240, 250, us_per_frame=40000)
    rows = {r["media_id"]: r for r in media_features(
        spark.createDataFrame([
            Row(media_id=1, payload=wav, kind="audio"),
            Row(media_id=2, payload=avi, kind="video"),
            Row(media_id=3, payload=b"RIFF\x04\x00\x00\x00XXXX",
                kind="audio"),
        ]), backend="real").collect()}
    w = rows[1]
    assert w["error"] is None
    assert (w["sample_rate"], w["n_samples"]) == (8000, 1000)
    assert w["duration_ms"] == 125  # 1000 frames / 8000 Hz
    assert w["width"] is None and w["n_frames"] is None
    assert w["digest"] == hashlib.md5(wav).hexdigest()
    a = rows[2]
    assert a["error"] is None
    assert (a["width"], a["height"], a["n_frames"]) == (320, 240, 250)
    assert a["duration_ms"] == 10000  # 250 * 40ms
    assert "RIFF subtype" in rows[3]["error"]


def _encode_webp_vp8(w, h):
    # lossy still: 3-byte frame tag, 9D 01 2A sync, 14-bit LE dims
    p = b"\x00\x00\x00" + b"\x9d\x01\x2a" + struct.pack("<HH", w, h) \
        + b"\x00" * 4
    return b"RIFF" + struct.pack("<I", 4 + 8 + len(p)) + b"WEBP" \
        + b"VP8 " + struct.pack("<I", len(p)) + p


def _encode_webp_vp8l(w, h):
    # lossless: 0x2F signature then width-1/height-1 packed 14-bit LE
    bits = (w - 1) | ((h - 1) << 14)
    p = bytes([0x2F]) + bits.to_bytes(4, "little") + b"\x00"
    pad = b"\x00" if len(p) & 1 else b""
    return b"RIFF" + struct.pack("<I", 4 + 8 + len(p) + len(pad)) \
        + b"WEBP" + b"VP8L" + struct.pack("<I", len(p)) + p + pad


def _encode_webp_vp8x(w, h, n_frames=0):
    # extended: flags byte (0x02 = animation), 24-bit canvas dims-1;
    # n_frames > 0 appends that many ANMF chunks
    flags = 0x02 if n_frames else 0x00
    px = bytes([flags, 0, 0, 0]) + (w - 1).to_bytes(3, "little") \
        + (h - 1).to_bytes(3, "little")
    out = b"VP8X" + struct.pack("<I", len(px)) + px
    for i in range(n_frames):
        fp = bytes([i]) * 16  # frame subheader stand-in (walk skips it)
        out += b"ANMF" + struct.pack("<I", len(fp)) + fp
    return b"RIFF" + struct.pack("<I", 4 + len(out)) + b"WEBP" + out


def test_webp_header_decode_pure():
    from webextract.functions.multimodal import _real_decode, _webp_info

    assert _webp_info(_encode_webp_vp8(640, 480)) == {
        "width": 640, "height": 480, "n_frames": 1}
    assert _webp_info(_encode_webp_vp8l(16383, 1)) == {
        "width": 16383, "height": 1, "n_frames": 1}
    assert _webp_info(_encode_webp_vp8x(1920, 1080, n_frames=3)) == {
        "width": 1920, "height": 1080, "n_frames": 3}
    # still image carrying a VP8X metadata chunk: coded VP8 dims win
    vp8x_still = _encode_webp_vp8x(8, 8)
    vp8 = _encode_webp_vp8(8, 8)
    combined = b"RIFF" + struct.pack(
        "<I", len(vp8x_still) - 8 + len(vp8) - 12) \
        + b"WEBP" + vp8x_still[12:] + vp8[12:]
    assert _webp_info(combined)["width"] == 8
    with pytest.raises(ValueError):
        _webp_info(b"RIFF\x04\x00\x00\x00WEBP")  # no image chunk
    with pytest.raises(ValueError):  # corrupted VP8 sync code
        bad = bytearray(_encode_webp_vp8(4, 4))
        bad[23] ^= 0xFF
        _webp_info(bytes(bad))
    d = _real_decode(_encode_webp_vp8(12, 34), "image")
    assert (d["width"], d["height"], d["n_frames"]) == (12, 34, 1)
    assert d["sample_rate"] is None


def test_media_features_real_webp(spark):
    from webextract.functions.multimodal import media_features
    from webextract.pipeline import ship_package

    ship_package(spark)
    lossy = _encode_webp_vp8(640, 480)
    anim = _encode_webp_vp8x(100, 50, n_frames=4)
    rows = {r["media_id"]: r for r in media_features(
        spark.createDataFrame([
            Row(media_id=1, payload=lossy, kind="image"),
            Row(media_id=2, payload=anim, kind="image"),
        ]), backend="real").collect()}
    assert rows[1]["error"] is None
    assert (rows[1]["width"], rows[1]["height"]) == (640, 480)
    assert rows[1]["digest"] == hashlib.md5(lossy).hexdigest()
    assert (rows[2]["width"], rows[2]["height"], rows[2]["n_frames"]) \
        == (100, 50, 4)


def test_media_transform_real_pcm_sample(spark):
    import numpy as np_

    from webextract.functions.multimodal import (
        _wav_info, media_transform,
    )
    from webextract.pipeline import ship_package

    ship_package(spark)
    wav = _encode_wav(1000, rate=8000, nch=2, bits=16)
    out = {r["media_id"]: r for r in media_transform(
        spark.createDataFrame([
            Row(media_id=1, payload=wav, kind="audio"),
            Row(media_id=2, payload=b"\x89PNG\r\n\x1a\nrest", kind="image"),
        ]), op="pcm_sample", sample_every=3, backend="real").collect()}
    ok = out[1]
    assert ok["error"] is None
    assert ok["n_frames"] == 334  # ceil(1000 / 3)
    _, off, dsize, balign = _wav_info(wav)
    arr = np_.frombuffer(wav[off:off + dsize], dtype=np_.uint8) \
        .reshape(1000, balign)[::3]
    assert ok["digest"] == hashlib.md5(arr.tobytes()).hexdigest()
    assert out[2]["error"] is not None  # images have no PCM stream


def test_media_features_real_mp3(spark):
    from webextract.functions.multimodal import media_features
    from webextract.pipeline import ship_package

    ship_package(spark)
    # 3 MPEG1 Layer-III frames @128kbps/44100Hz behind an ID3v2 tag:
    # frame_len = 144*128000//44100 = 417 bytes, 1152 samples each
    frame = bytes([0xFF, 0xFB, 0x90, 0x00]) + b"\x55" * 413
    tag = b"ID3\x03\x00\x00" + bytes([0, 0, 0, 100]) + b"\x00" * 100
    mp3 = tag + frame * 3
    out = media_features(
        spark.createDataFrame([Row(media_id=1, payload=mp3, kind="audio")]),
        backend="real").collect()[0]
    assert out["error"] is None
    assert out["sample_rate"] == 44100
    assert out["n_samples"] == 3 * 1152
    assert out["duration_ms"] == 3 * 1152 * 1000 // 44100
    assert out["width"] is None


def test_media_features_real_mp4(spark):
    import struct as st

    from webextract.functions.multimodal import media_features
    from webextract.pipeline import ship_package

    def box(btype: bytes, payload: bytes) -> bytes:
        return st.pack(">I", 8 + len(payload)) + btype + payload

    ship_package(spark)
    ftyp = box(b"ftyp", b"isom" + b"\x00" * 4)
    mvhd = box(b"mvhd", b"\x00\x00\x00\x00" + b"\x00" * 8
               + st.pack(">II", 1000, 5000))
    tkhd = box(b"tkhd", b"\x00\x00\x00\x00" + b"\x00" * 72
               + st.pack(">II", 320 << 16, 240 << 16))
    stsz = box(b"stsz", b"\x00\x00\x00\x00" + st.pack(">II", 0, 99))
    trak = box(b"trak", tkhd + box(b"mdia", box(b"minf", box(b"stbl",
                                                             stsz))))
    mp4 = ftyp + box(b"moov", mvhd + trak)
    out = media_features(
        spark.createDataFrame([Row(media_id=1, payload=mp4, kind="video")]),
        backend="real").collect()[0]
    assert out["error"] is None
    assert (out["width"], out["height"]) == (320, 240)
    assert out["n_frames"] == 99
    assert out["duration_ms"] == 5000


def test_canonicalize_url_pins(spark):
    from webextract.functions.hygiene import canonicalize_url

    cases = {
        "https://News.Example.com/Post/7?utm_source=a&utm_campaign=b":
            "https://news.example.com/Post/7",
        "https://a.co/x?a=1&utm_medium=m&b=2": "https://a.co/x?a=1&b=2",
        "HTTP://Blog.Test.org/p/9/#sec": "http://blog.test.org/p/9",
        "https://b.org/p/9/": "https://b.org/p/9",
        "https://s.com/item?id=3&fbclid=zz": "https://s.com/item?id=3",
        "https://s.com/?gclid=1": "https://s.com",
        "https://s.com/a?utm_a=1&utm_b=2&utm_c=3": "https://s.com/a",
        "not a url 5": "not a url 5",
        "": "",
    }
    rows = spark.createDataFrame(
        [Row(i=i, u=u) for i, u in enumerate(cases)])
    out = {r["u"]: r["c"] for r in rows.select(
        "u", canonicalize_url(F.col("u")).alias("c")).collect()}
    for raw, want in cases.items():
        assert out[raw] == want, (raw, out[raw], want)


def test_token_budget_sample(spark):
    from webextract.functions.hygiene import token_budget_sample

    rows = [
        # stratum a: priorities 9,8,7 with 3,3,3 tokens; budget 7 keeps
        # the top two (cum 3,6) and drops the third (cum 9)
        Row(doc_id=1, src="a", prio=9, text="one two three"),
        Row(doc_id=2, src="a", prio=8, text="four five six"),
        Row(doc_id=3, src="a", prio=7, text="seven eight nine"),
        # stratum b: a single doc larger than the budget -> dropped
        Row(doc_id=4, src="b", prio=5,
            text="a b c d e f g h i j k l m n o p"),
        # tie on priority resolved by id asc (deterministic)
        Row(doc_id=5, src="c", prio=1, text="x y"),
        Row(doc_id=6, src="c", prio=1, text="p q r s t u v"),
    ]
    out = {r["id"]: r for r in token_budget_sample(
        spark.createDataFrame(rows), budget_tokens=7, strata_col="src",
        priority_col="prio").collect()}
    assert sorted(out) == [1, 2, 5]
    assert out[2]["cum_tokens"] == 6
    assert out[5]["cum_tokens"] == 2  # id 5 fills first on the tie
    assert 4 not in out  # boundary doc never partially included


def test_token_budget_precomputed_n_tokens_col(spark):
    # r8: producers that already carry the token count (curate_full's
    # survivors) pass n_tokens_col and skip re-tokenizing the text —
    # rows must be identical to the text-derived path in both modes.
    # Every 10th doc has empty text and a NULL count, which must count
    # as 0 tokens as empty text does; doc 3 heads stratum s0, where a
    # NULL count would make its running sum NULL and drop it
    from pyspark.sql import functions as F

    from webextract.functions.hygiene import token_budget_sample
    from webextract.functions.text import norm_text, token_count

    docs = spark.createDataFrame([
        Row(doc_id=i, src=f"s{i % 3}", prio=float((i * 7) % 11),
            text=" ".join(["tok"] * ((i % 9) + 1)) if i % 10 != 3 else "")
        for i in range(60)
    ]).withColumn("nt", F.when(F.col("text") != "",
                               token_count(norm_text("text"))))
    for mode in ("exact", "approx"):
        via_text = token_budget_sample(
            docs, budget_tokens=12, strata_col="src", priority_col="prio",
            mode=mode)
        via_col = token_budget_sample(
            docs, budget_tokens=12, strata_col="src", priority_col="prio",
            mode=mode, n_tokens_col="nt")
        assert via_text.exceptAll(via_col).count() == 0
        assert via_col.exceptAll(via_text).count() == 0
        assert via_col.count() > 0


def test_token_budget_approx_matches_exact(spark):
    # the two-phase histogram path must return IDENTICAL rows to the
    # exact window pass — bucket-edge placement is a performance knob
    # only. Sweep budgets across empty/partial/total keep-sets and
    # bucket counts coarser and finer than the stratum sizes.
    from webextract.functions.hygiene import token_budget_sample

    rows = [
        Row(doc_id=i,
            src=["a", "b", "c"][i % 3],
            prio=(i * 7) % 23,           # collisions -> priority ties
            text=" ".join(f"w{j}" for j in range((i * 13) % 29 + 1)))
        for i in range(120)
    ]
    docs = spark.createDataFrame(rows).repartition(7)
    for budget in (0, 1, 40, 200, 10_000):
        exact = token_budget_sample(
            docs, budget_tokens=budget, strata_col="src",
            priority_col="prio").collect()
        for buckets in (2, 8, 64):
            approx = token_budget_sample(
                docs, budget_tokens=budget, strata_col="src",
                priority_col="prio", mode="approx",
                buckets=buckets).collect()
            assert sorted(map(tuple, approx)) == sorted(map(tuple, exact)), \
                (budget, buckets)


def test_token_budget_approx_prunes_before_sort(spark):
    # plan shape: the approx mode's final window sort must consume the
    # semi-joined candidate slice, not the full corpus — no
    # single-stratum global sort over all rows (the 100 TB bottleneck)
    from webextract.functions.hygiene import token_budget_sample

    docs = spark.createDataFrame(
        [Row(doc_id=i, src="s", prio=i, text="a b c") for i in range(50)])
    plan = token_budget_sample(
        docs, budget_tokens=10, strata_col="src", priority_col="prio",
        mode="approx")._jdf.queryExecution().optimizedPlan().toString()
    assert "percentile_approx" in plan
    assert "LeftSemi" in plan
    # the candidate semi join sits BELOW the running-sum window: the
    # first (outermost) Window in the optimized plan has the join in
    # its subtree
    assert plan.index("Window") < plan.index("LeftSemi")


def test_lm_familiarity_scores(spark):
    from webextract.functions.hygiene import (
        lm_bigram_model, with_lm_familiarity,
    )

    ref = spark.createDataFrame([
        Row(doc_id=1, text="the cat sat on the mat"),
        Row(doc_id=2, text="the dog sat on the rug"),
    ])
    model = lm_bigram_model(ref)
    # "sat on" and "on the" occur in both ref docs -> count 2
    counts = {r["bg"]: r["c"] for r in model.collect()}
    assert sorted(counts.values(), reverse=True)[:3] == [2, 2, 1]
    probe = spark.createDataFrame([
        Row(doc_id=10, text="the cat sat on the rug"),   # all known
        Row(doc_id=11, text="zx qv plk mnb vvw"),        # gibberish
        Row(doc_id=12, text="one"),                      # no bigrams
    ])
    out = {r["id"]: r for r in
           with_lm_familiarity(probe, model).collect()}
    assert out[10]["known_rate"] == 1.0
    assert out[10]["avg_count"] > 1.0   # hits the count-2 bigrams
    assert out[11]["known_rate"] == 0.0
    assert out[12]["n_bigrams"] == 0 and out[12]["known_rate"] == 0.0
    assert out[10]["known_rate"] > out[11]["known_rate"]


def test_domain_stats_with_quality_column(spark):
    from webextract.functions.hygiene import domain_stats

    docs = spark.createDataFrame([
        Row(doc_id=1, url="https://a.test/x", text="xx", q=0.8),
        Row(doc_id=2, url="https://a.test/y", text="yyy", q=0.4),
        Row(doc_id=3, url="https://b.test/z", text="z", q=1.0),
    ])
    stats = {r["domain"]: r
             for r in domain_stats(docs, quality_col="q").collect()}
    assert stats["a.test"]["avg_quality"] == 0.6
    assert stats["b.test"]["avg_quality"] == 1.0
    assert stats["a.test"]["total_chars"] == 5
