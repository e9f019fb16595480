"""Ported StringSchema conformance cases (reference: string_test.go)."""

from jio_spark import K, validate
from helpers import message, mutated, passes, run_leaf


def test_required_optional_default(spark):
    # string_test.go:39-65
    assert not passes(spark, K.string().required(), None, "string")
    assert passes(spark, K.string().optional(), None, "string")
    assert mutated(spark, K.string().default("hi"), None, "string") == "hi"


def test_set(spark):
    # string_test.go:67-75
    assert mutated(spark, K.string().set("hi"), "???", "string") == "hi"


def test_equal(spark):
    # string_test.go:77-90
    s = K.string().equal("faceair")
    assert passes(spark, s, "faceair", "string")
    assert not passes(spark, s, "unknown", "string")


def test_check(spark):
    # string_test.go:113-137
    s = K.string().check(lambda c: c == "faceair", "not equal to faceair")
    assert passes(spark, s, "faceair", "string")
    assert not passes(spark, s, "unknown", "string")
    assert not passes(spark, s, 121213.0, "double")  # type gate
    assert message(spark, s, 121213.0, "double") \
        == "field `v` value 121213 is not string"


def test_valid(spark):
    # string_test.go:139-153
    s = K.string().valid("faceair")
    assert passes(spark, s, "faceair", "string")
    assert not passes(spark, s, "???", "string")
    assert message(spark, s, "???", "string") \
        == "field `v` value ??? not in [faceair]"


def test_min_max_length(spark):
    # string_test.go:155-198 — byte lengths (string.go:131)
    assert passes(spark, K.string().min(3), "1234", "string")
    assert not passes(spark, K.string().min(3), "1", "string")
    assert message(spark, K.string().min(3), "1", "string") \
        == "field `v` value 1 length less than 3"
    assert passes(spark, K.string().max(3), "1", "string")
    assert not passes(spark, K.string().max(3), "23333", "string")
    assert passes(spark, K.string().length(3), "123", "string")
    assert not passes(spark, K.string().length(3), "23333", "string")


def test_byte_length_semantics(spark):
    # jio counts BYTES: len("héllo") == 6 in Go (é is 2 bytes in UTF-8)
    assert passes(spark, K.string().length(6), "héllo", "string")
    assert not passes(spark, K.string().length(5), "héllo", "string")


def test_regex(spark):
    # string_test.go:200-213
    s = K.string().regex(r"^.+\.$")
    assert passes(spark, s, "google.com.", "string")
    assert not passes(spark, s, "google.com", "string")
    assert message(spark, s, "google.com", "string") \
        == "field `v` value google.com not match with ^.+\\.$"


#: (pattern, value, Go RE2 verdict): RE2's ``$`` without the m flag is end
#: of text and its ``.`` rejects only ``\n``; Java's rlike treats \r, \x85,
#: \u2028 and \u2029 as line terminators too, and Python's ``$`` matches
#: before a final \n. The first six are the pinned divergences; the rest
#: keep ``$`` as a literal where it is escaped or inside a class.
_GO_LINE_CASES = [
    ("c$", "c\u2028", False), ("c$", "c\r", False), ("c$", "c\x85", False),
    ("c$", "c\u2029", False), ("c$", "c\n", False),
    ("a.c", "a\u2028c", True),
    ("c$", "c", True), ("a.c", "a\nc", False), (r"^\$$", "$", True),
    ("[$]c$", "$c", True), ("[$]c$", "$c\r", False),
]


def test_regex_line_terminators_are_go_exact(spark):
    from jio_oracle import jio_validate
    for pattern in dict.fromkeys(p for p, _, _ in _GO_LINE_CASES):
        cases = [(v, ok) for p, v, ok in _GO_LINE_CASES if p == pattern]
        schema = K.string().regex(pattern)
        got = run_leaf(spark, schema, [v for v, _ in cases], "string")
        for (value, ok), (_, engine_ok, _, _) in zip(cases, got):
            assert engine_ok == ok, (pattern, value)
            assert (jio_validate(schema, value)[0] is None) == ok, \
                (pattern, value)


def test_alphanum(spark):
    # string_test.go:215-228
    assert passes(spark, K.string().alphanum(), "google", "string")
    assert not passes(spark, K.string().alphanum(), "google.com", "string")


def test_token(spark):
    # string_test.go:230-243
    assert passes(spark, K.string().token(), "xsoi2n1ks_", "string")
    assert not passes(spark, K.string().token(), "hi faceair", "string")


def test_convert(spark):
    # string_test.go:245-260
    from pyspark.sql import functions as F
    s = K.string().convert(lambda c: F.concat(c, F.lit("111")))
    assert mutated(spark, s, "h", "string") == "h111"
    assert not passes(spark, s, 1213213.0, "double")


def test_lowercase_uppercase(spark):
    # string_test.go:262-278
    assert mutated(spark, K.string().lowercase(), "fACeAIr",
                   "string") == "faceair"
    assert mutated(spark, K.string().uppercase(), "fACeAIr",
                   "string") == "FACEAIR"


def test_trim(spark):
    # string_test.go:280-287: Go strings.TrimSpace — unicode whitespace
    # including tabs
    assert mutated(spark, K.string().trim(), "   faceair \t\t",
                   "string") == "faceair"


def test_validate_default_optional(spark):
    # string_test.go:289-296
    assert passes(spark, K.string(), None, "string")


def test_when_with_priority_and_set(spark):
    # string_test.go:92-111: `age` has priority 1 → validated first; `name`
    # is overwritten by Set in the matching `when` branch (mutation
    # visibility through the walk order).
    schema = K.object({
        "name": K.string()
            .when("age", K.number().min(18), K.string().set("adult"))
            .when("age", K.number().max(17), K.string().set("teenagers"))
            .required(),
        "age": K.number().required().set_priority(1),
    })
    df = spark.createDataFrame([(1, "unknown", 12.0), (2, "unknown", 20.0)],
                               "id int, name string, age double")
    res = validate(df, schema, id_cols=["id"])
    rows = {r["id"]: r["name"] for r in res.normalized.collect()}
    assert rows == {1: "teenagers", 2: "adult"}
    assert all(r["_pass"] for r in res.annotated.collect())


def test_trim_is_white_space_not_python_strip(spark):
    """Go strings.TrimSpace == the Unicode White_Space set. Python's
    str.strip() ALSO trims \\x1c-\\x1f (separator controls) — those are
    NOT White_Space, so Go (and the compiled (?U)\\s) must keep them."""
    v = "\x1ca\x1c"
    assert mutated(spark, K.string().trim(), v, "string") == v
    assert mutated(spark, K.string().trim(), " \x1ca ", "string") \
        == "\x1ca"                         # outer spaces go, \x1c stays
    assert mutated(spark, K.string().trim(), "\u2028a　",
                   "string") == "a"        # LS / ideographic space trim


def test_case_mapping_is_go_simple_not_jdk_full(spark):
    """strings.ToUpper/ToLower (string.go:192-200) apply the UnicodeData
    SIMPLE per-rune mappings. JDK String.toUpperCase/toLowerCase (what
    F.upper/F.lower call) apply the FULL mappings + context rules —
    every case below is a real divergence the translate table closes.
    Expected values are Go behavior stated from the public spec
    (UnicodeData.txt simple mappings; well-known strings.ToUpper
    corners)."""
    up = [
        ("straße", "STRAßE"),      # no simple uppercase for ß (JDK: SS)
        ("ﬁle", "ﬁLE"),           # ligature survives (JDK: FILE)
        ("ΐ", "ΐ"),                # multi-char full upper → unchanged
        ("ᾀ", "ᾈ"),               # simple maps to TITLECASE form
        ("ᾈ", "ᾈ"),               # titlecase form itself unchanged
        ("ᾳ", "ᾼ"),
        ("\u0149", "\u0149"),         # ʼn single rune (JDK: ʼN)
        ("𐐨", "𐐀"),              # astral (Deseret) still uppercases
        ("mixed ß ᾀ x", "MIXED ß ᾈ X"),
    ]
    low = [
        ("İ", "i"),                # JDK full: i + combining dot above
        ("ΑΣ", "ασ"),              # no Final_Sigma in simple (JDK: ας)
        ("Σ", "σ"),
        ("ὈΔΥΣΣΕΎΣ", "ὀδυσσεύσ"),  # every Σ → σ, even word-final
        ("ᾼ", "ᾳ"),
        ("𐐀", "𐐨"),
        ("I", "i"),
    ]
    for s, want in up:
        assert mutated(spark, K.string().uppercase(), s, "string") == want, s
    for s, want in low:
        assert mutated(spark, K.string().lowercase(), s, "string") == want, s
    # and the oracle agrees (differential-fuzz substrate)
    import sys, pathlib
    sys.path.insert(0, str(pathlib.Path(__file__).parent))
    from jio_oracle import jio_validate
    for s, want in up:
        assert jio_validate(K.string().uppercase(), s)[1] == want, s
    for s, want in low:
        assert jio_validate(K.string().lowercase(), s)[1] == want, s


def test_translate_is_codepoint_based(spark):
    """The casing module rests on StringTranslate operating on code
    POINTS (astral chars translate as units, mixed-plane from/to strings
    stay aligned) — pin the probe that justified the design."""
    from pyspark.sql import functions as F
    r = spark.createDataFrame([("a𐐨ß!",)], "s string").select(
        F.translate("s", "𐐨ß", "𐐀B").alias("t")).collect()[0]["t"]
    assert r == "a𐐀B!"


def test_simple_case_table_matches_jvm_reflect(spark):
    """Differential evidence for the translate table itself: the JVM's
    Character.toUpperCase/toLowerCase(int) ARE the UnicodeData simple
    mappings (what Go's unicode.ToUpper/ToLower implement). Sweep every
    code point through SQL reflect and compare. The JDK's Unicode table
    (13.0 on JDK 17) trails this Python's (14.0+): on any disagreement
    the JVM must report IDENTITY (a char its table predates), never a
    CONTRADICTING mapping — so newer-Unicode additions pass while a real
    table bug (wrong target rune) fails."""
    from pyspark.sql import functions as F
    from jio_spark.functions.casing import simple_case_map
    rows = [(cp,) for cp in range(0x110000)
            if not (0xD800 <= cp <= 0xDFFF)]
    df = spark.createDataFrame(rows, "cp long").repartition(32)
    got = df.select(
        "cp",
        F.expr("reflect('java.lang.Character','toUpperCase',"
               " cast(cp as int))").cast("long").alias("ju"),
        F.expr("reflect('java.lang.Character','toLowerCase',"
               " cast(cp as int))").cast("long").alias("jl")).collect()
    contradictions = []
    for r in got:
        cp = r["cp"]
        for direction, jvm in (("upper", r["ju"]), ("lower", r["jl"])):
            ours = simple_case_map(cp, direction)
            if ours != jvm and jvm != cp:
                contradictions.append((direction, hex(cp), hex(ours),
                                       hex(jvm)))
    assert contradictions == []
