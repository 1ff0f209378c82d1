"""Reference-golden extraction tests (SURVEY §5.1 basis)."""

import os

from delver_spark.engine.extract_ref import (
    adversarial,
    dedupe_first,
    detect_language,
    extract_text,
    extract_title,
    extract_urls_fsm,
    match_companies,
    match_countries,
    ngrams,
    resolve_urls,
    sentiment_binary,
)

DATA = os.path.join(os.path.dirname(__file__), "..", "data", "test")


def _read(name):
    with open(os.path.join(DATA, name), "rb") as f:
        return f.read()


def test_fsm_url_golden_164():
    # util/fsm/document_reader_test.go:17
    assert len(extract_urls_fsm(_read("example_html_file.html"))) == 164


def test_url_extractor_golden_153():
    # extractors/url_test.go:22 — dedupe raw then resolve vs empty base
    urls = extract_urls_fsm(_read("example_html_file.html"))
    assert len(resolve_urls("", dedupe_first(urls))) == 153


def test_text_golden_3596():
    # extractors/text_test.go:24 (byte length)
    assert len(extract_text(_read("lipsum.html"))) == 3596


def test_text_empty_is_none():
    assert extract_text(b"") is None
    assert extract_text(b"<p></p>") is None


def test_title():
    assert extract_title(b"<html><title>Hello</title></html>") == "Hello"
    assert extract_title(b"no title here") is None


NGRAM_SCENARIOS = {
    "The quick brown fox jumps over the lazy dog.": [
        ["the", "quick", "brown"], ["quick", "brown", "fox"],
        ["brown", "fox", "jumps"], ["fox", "jumps", "over"],
        ["jumps", "over", "the"], ["over", "the", "lazy"],
        ["the", "lazy", "dog"],
    ],
    "Waltz, bad nymph, for quick jigs vex": [
        ["for", "quick", "jigs"], ["quick", "jigs", "vex"],
    ],
    "Pack my box with five dozen liquor jugs": [
        ["pack", "my", "box"], ["my", "box", "with"], ["box", "with", "five"],
        ["with", "five", "dozen"], ["five", "dozen", "liquor"],
        ["dozen", "liquor", "jugs"],
    ],
    "The, five; boxing' wizards[] jump quickly": [],
}


def test_ngram_goldens():
    # extractors/ngram_test.go:11-35 (incl. sentence-reset case)
    for text, want in NGRAM_SCENARIOS.items():
        assert sorted(ngrams(text)) == sorted(want), text


def test_country_golden():
    # extractors/country_test.go:15
    text = _read("country_names").decode()
    assert match_countries(text) == ["DEU", "KEN", "MCO", "USA"]


def test_company_golden():
    # extractors/company_name_test.go:14-19
    text = _read("company_names").decode()
    assert match_companies(text) == [
        "AMEX:BATL", "NASDAQ:NXPI", "NYSE:FEI", "NYSE:MMS",
    ]


def test_language_goldens():
    # extractors/language_test.go:11-19
    scenarios = {
        "The quick brown fox jumps over the lazy dog.": "en",
        "你来自哪里？": "zh",
        "¿Cómo se dice ‘concert’ en español?": "es",
        "لِنَذْهَبْ إِلَى السِّيْنَمَا": "ar",
        "Qu’est-ce que vous aimez faire pendant votre temps libre?": "fr",
        "Можно заплатить кредитной карточкой?": "ru",
    }
    for text, want in scenarios.items():
        assert detect_language(text)[0] == want, text


def test_sentiment_goldens():
    # extractors/sentiment_test.go:11-17
    scenarios = {"I am angry": 0, "I am happy": 1, "I am sad": 0,
                 "We are angry": 0, "We are feeling good": 1}
    for title, want in scenarios.items():
        assert sentiment_binary(title) == want, title


def test_adversarial_enumeration():
    # adversarial.go:69-103 — last char of SLD differs by exactly one
    urls = ["http://a1.test/", "http://a2.test/"]
    enum, _ = adversarial("http://origin.test/", urls)
    assert enum
    enum, _ = adversarial("http://origin.test/", ["http://a1.test/", "http://a5.test/"])
    assert not enum


def test_adversarial_subdomain_explosion():
    origin = "http://www.example.com/"
    urls = [f"http://s{i}.example.com/" for i in range(30)]
    _, boom = adversarial(origin, urls)
    assert boom
    _, boom = adversarial(origin, urls[:10])
    assert not boom


def test_language_trigram_refinement():
    """When the stopword vote is weak, the Cavnar-Trenkle trigram ranking
    decides — including it/pt/nl, which have no stopword row."""
    scenarios = {
        "questo libro della nostra biblioteca quando anche molto": "it",
        "quando muito também já estava pelo sua coisa": "pt",
        "deze mensen hebben veel meer worden gedaan onder": "nl",
    }
    for text, want in scenarios.items():
        got, conf = detect_language(text)
        assert got == want, (text, got)
        assert 0.0 <= conf <= 1.0


def test_language_stopword_vote_still_primary():
    # decisive stopword votes keep their classification (golden path)
    assert detect_language("the cat and the dog")[0] == "en"
    assert detect_language("el perro y la casa de madera")[0] == "es"


def test_language_new_scripts():
    """Round-3 widening: kana → ja (even mixed with kanji), hangul → ko,
    devanagari → hi; the original zh/ar/ru goldens must be untouched."""
    scenarios = {
        "これはとても面白い本です": "ja",       # kana + kanji
        "日本語を勉強しています": "ja",          # kanji-heavy, kana present
        "안녕하세요 만나서 반갑습니다": "ko",
        "한국어 문장이 여기 있습니다": "ko",
        "यह एक अच्छी किताब है": "hi",
        "मुझे हिन्दी बहुत पसंद है": "hi",
        "你来自哪里？": "zh",                   # no kana → still zh
        # dominant script wins (review fix): majority-hangul text with a
        # >=30% hanja share must be ko, not first-in-fixed-order zh
        "韓國語 公園 안녕하세요 감사합니다 서울 時間 學校": "ko",
        # halfwidth katakana (FF65-FF9F) are kana, not the zh FF00 block
        "ﾊﾝｶｸｶﾀｶﾅﾃﾞｽ": "ja",
        # ja joins the dominant-script VOTE instead of short-circuiting
        # before it (ADVICE r3): majority-hangul text with one stray kana
        # char and a >=30% hanja share must stay ko, not flip to ja
        "안녕하세요 서울에서 감사합니다 ッ 韓國語 公園 時間 學校 友情": "ko",
    }
    for text, want in scenarios.items():
        got, conf = detect_language(text)
        assert got == want, (text, got)
        assert conf > 0.0


def test_language_new_latin_profiles():
    """Round-3 widening: tr/pl/sv/da/no/fi/ro/cs/hu resolve through the
    Cavnar-Trenkle trigram ranking (no stopword rows — the existing
    en/es/fr/de fast path is untouched)."""
    scenarios = {
        "ben bu şey için çok kadar değil ama sonra gibi": "tr",
        "jest że przez już tylko bardzo kiedy które jego się": "pl",
        "och att det som är inte från skulle när över": "sv",
        "og ikke havde hende efter hvad hvor noget være blevet": "da",
        "og det ikke meg seg etter når skal ble blitt": "no",
        "ja on ei että hän mutta kuin minä kanssa vielä": "fi",
        "și să nu este pentru dacă după fără foarte până": "ro",
        "se že jako když může velmi jsem která ještě všechno": "cs",
        "az és nem hogy egy volt csak már mint mindig": "hu",
    }
    for text, want in scenarios.items():
        got, conf = detect_language(text)
        assert got == want, (text, got)
        assert 0.0 <= conf <= 1.0


def test_language_round4_widening():
    """Round-4 widening toward whatlanggo's coverage: five script-range
    languages (el/he/th/bn/ta), shared-script splits (uk/bg within
    Cyrillic, fa within Arabic script), five Latin trigram profiles
    (vi/id/ca/hr/sk). All pre-round-4 goldens must hold unchanged."""
    scenarios = {
        "αυτό είναι ένα πολύ καλό βιβλίο": "el",
        "זה ספר טוב מאוד": "he",
        "นี่คือหนังสือที่ดีมาก": "th",
        "এটি একটি খুব ভালো বই": "bn",
        "இது ஒரு நல்ல புத்தகம்": "ta",
        # Cyrillic split: і/ї/є mark uk; common ъ with no ы/э/ё marks bg;
        # the reference ru golden (ы/э/ё or unmarked) stays ru
        "це дуже гарна книжка і її автор відомий всім": "uk",
        "това е първият път в съвременната държава": "bg",
        "Можно заплатить кредитной карточкой?": "ru",
        # Arabic-script split: Persian-only letters / Farsi yeh → fa
        "این کتاب خیلی خوب است و من آن را دوست دارم": "fa",
        "لِنَذْهَبْ إِلَى السِّيْنَمَا": "ar",
        # new Latin trigram profiles
        "của và là những người không được với trong cho": "vi",
        "yang dan dengan untuk tidak dalam mereka sudah seperti": "id",
        "aquest és un llibre molt bo i també el seu autor": "ca",
        "ova knjiga je vrlo dobra i još uvijek nešto može biti": "hr",
        "táto kniha je veľmi dobrá a ešte niečo môže byť": "sk",
    }
    for text, want in scenarios.items():
        got, conf = detect_language(text)
        assert got == want, (text, got)
        assert 0.0 <= conf <= 1.0


def test_language_round4_second_pass():
    """Round-4 widening, second pass (→ ~60 languages): thirteen
    single-language script ranges decided by the one-pass interval
    table (te/kn/ml/si/gu/pa/or/km/lo/my/ka/hy/am), three more
    shared-script splits (ur within Arabic script; be/sr/mk within
    Cyrillic), and twelve Latin trigram profiles
    (et/lt/lv/sl/sq/eu/cy/ga/is/mt/sw/tl). Every earlier golden holds
    (test_language_goldens / _new_scripts / _round4_widening run the
    same suite)."""
    scenarios = {
        # script-range singletons
        "ఇది తెలుగు భాష పరీక్ష వాక్యం": "te",
        "ಇದು ಕನ್ನಡ ಭಾಷೆಯ ಪರೀಕ್ಷಾ ವಾಕ್ಯ": "kn",
        "ഇത് മലയാളം ഭാഷയുടെ പരീക്ഷണ വാക്യം": "ml",
        "මෙය සිංහල භාෂාවේ පරීක්ෂණ වාක්‍යයකි": "si",
        "આ ગુજરાતી ભાષાનું પરીક્ષણ વાક્ય છે": "gu",
        "ਇਹ ਪੰਜਾਬੀ ਭਾਸ਼ਾ ਦਾ ਟੈਸਟ ਵਾਕ ਹੈ": "pa",
        "ଏହା ଓଡ଼ିଆ ଭାଷାର ପରୀକ୍ଷା ବାକ୍ୟ": "or",
        "នេះជាប្រយោគសាកល្បងភាសាខ្មែរ": "km",
        "ນີ້ແມ່ນປະໂຫຍກທົດສອບພາສາລາວ": "lo",
        "ဤသည်မြန်မာဘာသာစကားစမ်းသပ်စာကြောင်းဖြစ်သည်": "my",
        "ეს არის ქართული ენის სატესტო წინადადება": "ka",
        "Սա հայերեն լեզվի փորձնական նախադասություն է": "hy",
        "ይህ የአማርኛ ቋንቋ ሙከራ ዓረፍተ ነገር ነው": "am",
        # Arabic-script split: Urdu retroflexes/barree-yeh/heh-goal decide
        # before the Persian letters (Urdu uses those too)
        "یہ اردو زبان کا ایک آزمائشی جملہ ہے": "ur",
        # Cyrillic splits: ў → be even though the text also carries the
        # uk mark і and the ru mark э; ђ/ћ → sr; ѓ/ќ/ѕ → mk
        "Гэта было ўчора ўвечары ў горадзе і вёсцы": "be",
        "Ђаци уче ћирилицу сваког дана у школи": "sr",
        "Ова ќе биде убав ден за сите нас": "mk",
        # new Latin trigram profiles
        "ja ei see kui siis ainult pärast tema nende midagi": "et",
        "ir yra bet kad tai kaip buvo labai nieko apie": "lt",
        "un ir bet ka tas viņš bija ļoti nekas tikai": "lv",
        "in je da se za so bi lahko vedno nikoli nekaj": "sl",
        "dhe është në një për që nga shumë vetëm asgjë": "sq",
        "eta da ez du bat baina hau nola asko oso ezer": "eu",
        "a yn y mae ac gyda ond oedd wedi popeth efallai": "cy",
        "agus tá an is ar le go bhí faoi amháin gach rud": "ga",
        "og er að það hann hún við þeir ekki mjög eitthvað": "is",
        "u hija huwa li ma għal minn kien ħafna mingħajr": "mt",
        "na ni ya wa kwa katika yeye sisi alikuwa sana wakati": "sw",
        "at ang ng sa ay mga ito siya kami lahat marahil": "tl",
    }
    for text, want in scenarios.items():
        got, conf = detect_language(text)
        assert got == want, (text, got)
        assert conf > 0.0


def test_sentiment_negation_and_valence():
    assert sentiment_binary("This is not good") == 0      # negation flips
    assert sentiment_binary("This is not bad at all") == 1
    assert sentiment_binary("outstanding success despite fear") == 1  # 5+2-2
    assert sentiment_binary("record loss and fraud") == 0  # 1-3-4


def test_language_session5_additions():
    """kk/tg (unique Cyrillic letters), az/eo (unique Latin letters),
    mr/ne (Devanagari closed-class vote); every neighboring language's
    goldens stay pinned by the earlier tests."""
    cases = {
        "Қазақстан Республикасының ұлттық тілі қазақ тілі болып табылады":
            "kk",
        "Забони тоҷикӣ забони расмии Ҷумҳурии Тоҷикистон аст": "tg",
        "Azərbaycan dili Azərbaycanın rəsmi dövlət dilidir": "az",
        "Esperanto estas internacia lingvo kaj ĝi estas tre facila": "eo",
        "मराठी ही महाराष्ट्राची अधिकृत भाषा आहे आणि ती खूप सुंदर आहे": "mr",
        "नेपाली भाषा नेपालको आधिकारिक भाषा हो र यो धेरै राम्रो छ": "ne",
        # hi default unchanged: no mr/ne closed-class hits
        "यह हिंदी भाषा का एक परीक्षण वाक्य है और यह सुंदर है": "hi",
        # Russian/Ukrainian unaffected by the kk/tg pre-checks
        "это очень хорошая книга и я люблю читать её": "ru",
        "це дуже гарна книжка і її автор відомий всім": "uk",
        # code-review r4-s5 regressions: everyday Hindi containing the
        # shared function words हो / तो must STAY hi (they were in the
        # original ne/mr sets), and a stray shared token can't flip a
        # short doc
        "तुम कैसे हो": "hi",
        "अच्छा तो मैं चलता हूँ": "hi",
        # stray IPA schwa inside decisive English must stay en; ditto a
        # quoted Esperanto letter in decisive French
        "the word about is pronounced əˈbaʊt in the dictionary": "en",
        "le symbole ĉ est une lettre de l'alphabet et il est rare": "fr",
    }
    for text, want in cases.items():
        got, conf = detect_language(text)
        assert got == want, (text, got)
        assert conf > 0


def test_language_r5_neighbor_profiles():
    """r5 widening (VERDICT r4 #7): gl/ms/af — the three deliberately-
    skipped neighbors — now have real profiles, because the negative-
    control probe showed af text landing on *no* (not even its
    documented neighbor nl). Distinctive-word texts must classify
    correctly; the close neighbors must NOT flip."""
    scenarios = {
        "xente galega fala galego moi ben xunto cos seus amigos": "gl",
        "mereka boleh pergi sahaja kerana awak sudah mesti siap dengan"
        " kerja itu sangat lepas pula hendak": "ms",
        "ons moet nie vergeet om vir hulle baie dankie te sê nie want"
        " hulle het ons so goed gehelp": "af",
        # neighbors keep their labels
        "quando muito também já estava pelo sua coisa": "pt",
        "deze mensen hebben veel meer worden gedaan onder": "nl",
        "wij moeten niet vergeten om hen heel erg te bedanken want zij"
        " hebben ons zo goed geholpen": "nl",
        "mereka bisa pergi saja karena kamu sudah harus selesai dengan"
        " pekerjaan itu": "id",
    }
    for text, want in scenarios.items():
        got, _ = detect_language(text)
        assert got == want, (text, got)


def test_language_negative_controls():
    """The az/eo/Hindi lessons generalized (VERDICT r4 #7): texts in
    UNCOVERED languages must not come back as a CONFIDENT covered hit,
    and gl text dominated by shared-with-Spanish function words keeps
    the decisive-stopword es label (documented neighbor behavior — the
    fast path is reference-golden and shared vocabulary is genuinely
    ambiguous)."""
    uncovered = [
        # Yoruba, Zulu, Hawaiian — no profile; whatever label falls out
        # of the trigram ranking must carry low confidence
        "ede yoruba je okan ninu awon ede ti won n so ni orile ede"
        " naijiria pelu igberaga nla",
        "lolu limi lukhulunywa abantu abaningi ezweni futhi"
        " balusebenzisa nsuku zonke ngokuziqhenya okukhulu",
        "ua olelo ia keia olelo e na kanaka he nui ma ka aina a ke"
        " hoohana nei lakou ia ia i kela me keia la",
    ]
    for text in uncovered:
        got, conf = detect_language(text)
        assert conf < 0.2, (text, got, conf)
    got, conf = detect_language(
        "unha das linguas máis fermosas que se falan no noroeste da"
        " península e que ten moitos falantes")
    assert got == "es", (got, conf)
