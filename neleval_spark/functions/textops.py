"""Large-scale training-data operators over document tables:
deduplication (exact, MinHash+LSH, SimHash, n-gram Jaccard), text
analysis (language-ID heuristic, quality scoring, token counting,
fingerprinting).

Design notes for oracle-checkability and scale:

* Token ids are a *direct polynomial hash over the token's bytes*
  (h = fold(h*31 + ascii(c)) mod 2^31-1) — a pure per-row column
  expression both engines compute identically (Spark `aggregate`
  over chars / DuckDB `list_reduce`). No dictionary table, no join,
  and crucially no global id-assignment window: the round-1 design
  ranked distinct tokens with `Window.orderBy(...)`, which funnels
  the whole vocabulary through ONE partition — a guaranteed stall at
  web scale. Hashing is embarrassingly parallel and ships zero state.
* All shuffles key on token / shingle / band values — classic
  skew-prone keys; AQE skew-join handles hot tokens, and the LSH
  band join only materializes candidate PAIRS, never the quadratic
  cross product.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..stats.significance import MIX_PRIME as MINHASH_PRIME, token_hash

# fixed affine-hash parameters over the token-id space (mod the
# Mersenne prime token_hash uses) — deterministic and engine-agnostic
MINHASH_PARAMS = [
    (1299721, 104729), (1299743, 104743), (1299763, 104759),
    (1299791, 104773), (1299811, 104779), (1299817, 104789),
    (1299821, 104801), (1299827, 104803),
]


def tokens(docs: DataFrame, id_col: str = "doc_id",
           text_col: str = "text") -> DataFrame:
    """(doc id, token) rows — lowercased word tokens."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.filter(
                F.split(F.lower(F.col(text_col)), r"[^a-z0-9]+"),
                lambda t: t != "",
            )
        ).alias("token"),
    )


def token_ids(docs: DataFrame, id_col: str = "doc_id",
              text_col: str = "text") -> DataFrame:
    """(doc_id, token_id) rows — hashed word tokens."""
    return tokens(docs, id_col, text_col).select(
        "doc_id", token_hash(F.col("token")).alias("token_id"))


SHINGLE_MULT = 131


def shingle_ids(docs: DataFrame, id_col: str = "doc_id",
                text_col: str = "text", n: int = 5) -> DataFrame:
    """(doc_id, token_id) rows where token_id is the polynomial hash
    of ``n`` consecutive word-token hashes (w-shingles — the standard
    dedup unit: whole-doc unigram sets over-merge templated corpora).

    Pure column expressions (split → transform → transform over an
    index sequence → explode): no window, no shuffle, no Python — the
    per-doc shingle list never leaves the row until the explode, so
    the stage stays narrow and JVM-side (the transforms evaluate
    interpreted over the staged ``_tids`` column).  Docs shorter
    than ``n`` tokens hash their full token sequence instead."""
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), r"[^a-z0-9]+"),
        lambda t: t != "")
    tids = F.transform(toks, token_hash)

    def shingle_at(i):
        acc = F.get(F.col("_tids"), i)
        for j in range(1, n):
            acc = (acc * F.lit(SHINGLE_MULT)
                   + F.get(F.col("_tids"), i + F.lit(j))) \
                % F.lit(MINHASH_PRIME)
        return acc

    whole = F.aggregate(
        F.col("_tids"), F.lit(0).cast("long"),
        lambda acc, t: (acc * F.lit(SHINGLE_MULT) + t)
        % F.lit(MINHASH_PRIME))
    shingles = F.when(
        F.size(F.col("_tids")) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(F.col("_tids")) - n),
            shingle_at),
    ).otherwise(F.array(whole))
    return (
        docs.select(F.col(id_col).alias("doc_id"), tids.alias("_tids"))
        .select("doc_id", F.explode(shingles).alias("token_id"))
    )


def minhash_signatures(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text",
                       n_hashes: int = 8,
                       shingle: int | None = None) -> DataFrame:
    """(doc_id, h0..h{n-1}) MinHash signature per document — over
    word unigrams by default, over w-shingles when ``shingle`` is
    set (the dedup-grade configuration)."""
    if shingle:
        tid = shingle_ids(docs, id_col, text_col, n=shingle).distinct()
    else:
        tid = token_ids(docs, id_col, text_col).distinct()
    aggs = [
        F.min((F.col("token_id") * F.lit(a) + F.lit(b))
              % F.lit(MINHASH_PRIME)).alias(f"h{i}")
        for i, (a, b) in enumerate(MINHASH_PARAMS[:n_hashes])
    ]
    return tid.groupBy("doc_id").agg(*aggs)


def minhash_lsh_pairs(docs: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", n_hashes: int = 8,
                      band_size: int = 2,
                      shingle: int | None = None,
                      max_bucket: int = 10_000) -> DataFrame:
    """Candidate near-duplicate pairs: docs sharing any LSH band
    bucket (banded MinHash). Returns (doc_a, doc_b, n_bands) with
    doc_a < doc_b.

    Hot-bucket guard: on crawl corpora, mass-duplicated boilerplate
    routinely lands 10^6 documents in ONE band bucket — full pairwise
    expansion there is 10^12 rows from a single key.  Buckets larger
    than ``max_bucket`` therefore skip pairwise expansion: every
    member links to the bucket's representative (minimum doc_id)
    instead — size-1 star edges in place of size² pairs.  Members of
    one bucket share the whole band signature, so the representative
    star yields the SAME connected components downstream (dedup
    clustering) while bounding pair output per bucket at O(size);
    only the per-pair ``n_bands`` evidence count inside guarded
    buckets is reduced to the star edges.  The bucket-size
    aggregation and both expansion joins reuse one hash partitioning
    on (band, bucket) — the guard adds no extra exchange of the
    banded table."""
    sig = minhash_signatures(docs, id_col, text_col, n_hashes, shingle)
    n_bands = n_hashes // band_size
    bands = []
    for b in range(n_bands):
        cols = [F.col(f"h{b * band_size + j}").cast("string")
                for j in range(band_size)]
        bands.append(
            sig.select(
                "doc_id",
                F.lit(b).alias("band"),
                F.concat_ws("_", *cols).alias("bucket"),
            )
        )
    banded = bands[0]
    for b in bands[1:]:
        banded = banded.union(b)
    # bucket stats via a window (not a groupBy+join): all three
    # consumers below then hang off ONE (band, bucket) exchange that
    # AQE's ReuseExchange dedupes, so the signature pipeline runs once
    w = Window.partitionBy("band", "bucket")
    banded = banded.select(
        "doc_id", "band", "bucket",
        F.count(F.lit(1)).over(w).alias("_n"),
        F.min("doc_id").over(w).alias("_rep"),
    )

    small = banded.where(F.col("_n") <= max_bucket)
    a = small.select("band", "bucket", F.col("doc_id").alias("doc_a"))
    b_ = small.select("band", "bucket", F.col("doc_id").alias("doc_b"))
    small_pairs = (
        a.join(b_, ["band", "bucket"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
    )
    # oversized buckets: representative star (rep = min ⇒ rep < member)
    big_pairs = (
        banded.where((F.col("_n") > max_bucket)
                     & (F.col("doc_id") != F.col("_rep")))
        .select(F.col("_rep").alias("doc_a"),
                F.col("doc_id").alias("doc_b"))
    )
    return (
        small_pairs.union(big_pairs)
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_bands"))
    )


def simhash(docs: DataFrame, id_col: str = "doc_id",
            text_col: str = "text", n_bits: int = 16) -> DataFrame:
    """(doc_id, simhash) — per-bit majority vote over token-id hash
    bits (multiplicative mixing on hashed token ids)."""
    tid = token_ids(docs, id_col, text_col)
    mixed = (F.col("token_id") * F.lit(2654435761)) % F.lit(1 << 32)
    bit_votes = tid.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(n_bits - 1))).alias("bit"),
        mixed.alias("mx"),
    ).withColumn(
        "vote",
        F.when(
            (F.floor(F.col("mx") / F.pow(F.lit(2), F.col("bit"))
                     .cast("long")) % 2) == 1, 1).otherwise(-1),
    )
    per_bit = bit_votes.groupBy("doc_id", "bit").agg(
        F.sum("vote").alias("v"))
    return per_bit.groupBy("doc_id").agg(
        F.sum(
            F.when(F.col("v") > 0,
                   F.pow(F.lit(2), F.col("bit")).cast("long"))
            .otherwise(0)
        ).cast("long").alias("simhash")
    )


def simhash_column(text_col: F.Column, n_bits: int = 16) -> F.Column:
    """In-row SimHash: the SAME value as :func:`simhash` (equality
    pinned by pytest) computed as one pure column expression — token
    array → per-token mixed hash → bit-vote fold → bit assembly, no
    explode and no aggregation.  Two uses the DataFrame version can't
    serve: inside a streaming query BEFORE a stateful operator
    (aggregations can't precede ``dropDuplicatesWithinWatermark``),
    and as a narrow projection at 10^12 docs where the explode's
    ``n_tokens × n_bits`` row inflation is the dominant cost."""
    toks = F.filter(F.split(F.lower(text_col), r"[^a-z0-9]+"),
                    lambda t: t != "")
    mixed = F.transform(
        toks,
        lambda t: (token_hash(t) * F.lit(2654435761)) % F.lit(1 << 32))
    # One bitmask literal per signature bit: the per-token vote is
    # sign(mx & mask) via integer bitwiseAND — no floating point
    # anywhere (the earlier pow(2,b)/floor/mod form computed the same
    # bits through doubles, ~1.25× slower measured at sf0.1 and a
    # weaker cross-engine story).  Values are bit-identical.
    masks = F.array(*[F.lit(1 << b).cast("long") for b in range(n_bits)])
    votes = F.aggregate(
        mixed,
        F.array_repeat(F.lit(0).cast("long"), n_bits),
        lambda acc, mx: F.zip_with(
            acc, masks,
            lambda a, m: a + F.when(mx.bitwiseAND(m) != 0, F.lit(1))
            .otherwise(F.lit(-1)).cast("long")))
    return F.aggregate(
        F.zip_with(
            votes, masks,
            lambda v, m: F.when(v > 0, m)
            .otherwise(F.lit(0).cast("long"))),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x).cast("long")


def _shingle_pair_counts(docs: DataFrame, pairs: DataFrame,
                         id_col: str, text_col: str,
                         n: int) -> DataFrame:
    """Shared core of the pair-list similarity ops: (doc_a, doc_b,
    i, sz_a, sz_b) — intersection size and both shingle-set sizes.

    Shingle sets stay relational (explode → join → count); the pair
    list bounds the work — produce it with LSH at scale.  Documents
    shorter than ``n`` tokens get an EMPTY shingle set (sz = 0), not
    a garbage descending sequence.

    The token array is materialized as a staging column before the
    shingle ``transform``: higher-order functions are interpreted
    (CodegenFallback), so referencing the tokenize expression inside
    the lambda re-splits the document PER SHINGLE × n (see the
    PLANS.md "higher-order functions are interpreted" note).
    """
    toks = F.col("_toks")
    sh_arr = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, (i + j + 1).cast("int"))
                       for j in range(n)]),
        )).otherwise(F.array().cast("array<string>"))
    shingled = docs.select(
        F.col(id_col).alias("doc_id"),
        F.filter(F.split(F.lower(F.col(text_col)), r"[^a-z0-9]+"),
                 lambda t: t != "").alias("_toks"),
    ).select(
        "doc_id",
        F.explode(sh_arr).alias("shingle"),
    ).distinct()

    sizes = shingled.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a = shingled.withColumnRenamed("doc_id", "doc_a")
    b = shingled.withColumnRenamed("doc_id", "doc_b")
    inter = (
        pairs.join(a, "doc_a").join(b, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    sa = sizes.withColumnRenamed("doc_id", "doc_a") \
        .withColumnRenamed("sz", "sz_a")
    sb = sizes.withColumnRenamed("doc_id", "doc_b") \
        .withColumnRenamed("sz", "sz_b")
    return (
        pairs.join(inter, ["doc_a", "doc_b"], "left")
        .na.fill({"i": 0})
        .join(sa, "doc_a", "left").join(sb, "doc_b", "left")
        .na.fill({"sz_a": 0, "sz_b": 0})
    )


def ngram_jaccard_pairs(docs: DataFrame, pairs: DataFrame,
                        id_col: str = "doc_id", text_col: str = "text",
                        n: int = 3) -> DataFrame:
    """Token n-gram Jaccard similarity for given (doc_a, doc_b)
    pairs (see ``_shingle_pair_counts`` for the plan shape)."""
    return _shingle_pair_counts(docs, pairs, id_col, text_col, n) \
        .select(
            "doc_a", "doc_b",
            F.round(
                F.col("i")
                / (F.col("sz_a") + F.col("sz_b") - F.col("i")), 6
            ).alias("jaccard"),
        )


def ngram_containment_pairs(docs: DataFrame, pairs: DataFrame,
                            id_col: str = "doc_id",
                            text_col: str = "text",
                            n: int = 3) -> DataFrame:
    """Asymmetric shingle containment (Broder 1997's c(A,B) =
    |S(A)∩S(B)| / |S(A)|) alongside Jaccard for given pairs.

    Jaccard misses quote/superset relationships: a 200-word excerpt
    inside a 10k-word page scores near 0 on Jaccard but ~1.0 on
    containment-of-A-in-B — the signal dedup pipelines use to drop
    wrapper pages and detect quotations.  Same bounded pair-list
    plan as ``ngram_jaccard_pairs``; zero-shingle docs yield NULL
    containment (0/0 is undefined, not 0)."""
    c = _shingle_pair_counts(docs, pairs, id_col, text_col, n)
    return c.select(
        "doc_a", "doc_b",
        F.round(F.col("i")
                / (F.col("sz_a") + F.col("sz_b") - F.col("i")), 6)
         .alias("jaccard"),
        F.round(F.when(F.col("sz_a") > 0,
                       F.col("i") / F.col("sz_a")), 6)
         .alias("contain_a_in_b"),
        F.round(F.when(F.col("sz_b") > 0,
                       F.col("i") / F.col("sz_b")), 6)
         .alias("contain_b_in_a"),
    )


# --- text analysis -----------------------------------------------------------

STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "mit", "ein"],
    "fr": ["le", "la", "les", "des", "est", "dans", "pour", "une"],
}


def _stop_hits(toks, words) -> F.Column:
    """Count of stopword tokens in an (already materialized) token
    array column — see `quality_features` staging."""
    lit_words = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(toks, lambda t: F.array_contains(lit_words, t)))


# Character-trigram language profiles (Cavnar & Trenkle-style rank
# profiles, simplified): the most frequent trigrams of each language
# over space-padded lowercase letters, most-frequent first.  Weight =
# descending rank (integers — classification ties resolve identically
# in any engine, no float comparisons).  Swap in corpus-derived
# profiles the same way at real scale; the plan shape is independent
# of profile size.
CHAR_TRIGRAM_PROFILES = {
    "en": [
        " th", "the", "he ", " an", "and", "nd ", " of", "of ", "ing",
        "ng ", " to", "to ", "ed ", " in", "ion", "on ", "er ", " co",
        "re ", "at ", "en ", "es ", " re", "is ", " is", "tio", " be",
        "th ", "nt ", " fo", "for", "or ", "ati", " ha", "tha", "hat",
        " it", "it ", " wh", "his", " st", "ter", "ent", "ers", " a ",
    ],
    "de": [
        "en ", "er ", " de", "der", "ie ", "die", "nd ", "und", " un",
        "ein", "in ", "ch ", "sch", " ge", "ich", "ung", "ng ", "cht",
        "ht ", " be", "ber", " da", "das", "as ", " ei", "ine", "ne ",
        "ten", " ve", "ver", "gen", " zu", "zu ", "den", " mi", "mit",
        "it ", "ist", "st ", " ni", "nic", "ach", "te ", "hen", " au",
    ],
    "fr": [
        " de", "de ", "es ", " le", "le ", "ent", "nt ", "la ", " la",
        "et ", " et", "ion", "on ", " pa", "par", "tio", " pr", "les",
        " qu", "que", "ue ", "ur ", "eur", " un", "une", "ans", "dan",
        " da", "ais", " po", "pou", "our", "ait", "ous", " no", "eme",
        "men", "ce ", " ce", "ont", " so", "son", "ses", " se", "ire",
    ],
}


# Embedded training text for the round-4 profile additions; the
# profiles are DERIVED from these with the exact normalization the
# classifier applies (Cavnar-Trenkle: rank the most frequent space-
# padded trigrams).  Profiles are data, not code — at real scale swap
# in corpus-trained profiles built the same way.
_LATIN_TRAIN = {
    "es": (
        "el gobierno anunció ayer una nueva política económica para "
        "las ciudades más grandes del país. los investigadores "
        "estudian desde hace años estas cuestiones en sus "
        "laboratorios. la comisión publicó su informe anual sobre el "
        "crecimiento económico y el empleo esta mañana. cuando los "
        "estudiantes discuten sus ideas la comprensión mejora mucho. "
        "no hay nada más importante que la educación de los niños en "
        "todas las regiones del mundo. esto es una de las preguntas "
        "que se hacen los científicos cada día en su trabajo."),
    "it": (
        "il governo ha annunciato ieri una nuova politica economica "
        "per le città più grandi del paese. i ricercatori studiano da "
        "anni queste questioni nei loro laboratori. la commissione ha "
        "pubblicato questa mattina il suo rapporto annuale sulla "
        "crescita economica e sull'occupazione. quando gli studenti "
        "discutono le loro idee la comprensione migliora molto. non "
        "c'è niente di più importante dell'educazione dei bambini in "
        "tutte le regioni del mondo. questa è una delle domande che "
        "gli scienziati si pongono ogni giorno nel loro lavoro."),
    "pt": (
        "o governo anunciou ontem uma nova política econômica para as "
        "maiores cidades do país. os pesquisadores estudam há anos "
        "estas questões nos seus laboratórios. a comissão publicou "
        "esta manhã o seu relatório anual sobre o crescimento "
        "econômico e o emprego. quando os estudantes discutem as suas "
        "ideias a compreensão melhora muito. não há nada mais "
        "importante do que a educação das crianças em todas as "
        "regiões do mundo. esta é uma das perguntas que os cientistas "
        "fazem todos os dias no seu trabalho."),
    "nl": (
        "de regering heeft gisteren een nieuw economisch beleid "
        "aangekondigd voor de grootste steden van het land. "
        "onderzoekers bestuderen deze vragen al jaren in hun "
        "laboratoria. de commissie publiceerde vanochtend haar "
        "jaarverslag over de economische groei en de "
        "werkgelegenheid. wanneer studenten hun ideeën bespreken "
        "verbetert het begrip aanzienlijk. er is niets belangrijker "
        "dan het onderwijs van kinderen in alle regio's van de "
        "wereld. dit is een van de vragen die wetenschappers zich "
        "elke dag stellen in hun werk."),
    "sv": (
        "regeringen tillkännagav i går en ny ekonomisk politik för "
        "landets största städer. forskare har i många år studerat "
        "dessa frågor i sina laboratorier. kommissionen publicerade i "
        "morse sin årliga rapport om den ekonomiska tillväxten och "
        "sysselsättningen. när studenterna diskuterar sina idéer "
        "förbättras förståelsen avsevärt. det finns ingenting "
        "viktigare än utbildningen av barn i alla regioner i "
        "världen. detta är en av de frågor som forskarna ställer sig "
        "varje dag i sitt arbete."),
}


def _derive_profile(text: str, k: int = 45) -> list[str]:
    """Top-k space-padded lowercase-letter trigrams of ``text`` under
    the classifier's own normalization; count-desc then lexicographic
    for determinism.  The all-space trigram carries no signal."""
    import re as _re
    from collections import Counter

    t = " " + _re.sub("[^a-z]+", " ", text.lower()) + " "
    c = Counter(t[i:i + 3] for i in range(len(t) - 2))
    c.pop("   ", None)
    return [g for g, _ in sorted(c.items(),
                                 key=lambda kv: (-kv[1], kv[0]))[:k]]


CHAR_TRIGRAM_PROFILES.update(
    {lg: _derive_profile(txt) for lg, txt in _LATIN_TRAIN.items()})


# Unicode-script character classes (literal BMP ranges — identical
# semantics in Java regex and RE2, so the DuckDB oracle can reuse
# them verbatim).  Non-Latin languages are identified by dominant
# script (the CLD-style first stage); only Latin text proceeds to the
# trigram profiles.
SCRIPT_PATTERNS = {
    "latin": "[A-Za-zÀ-ɏ]",
    "cyrillic": "[Ѐ-ӿ]",
    "greek": "[Ͱ-Ͽ]",
    "arabic": "[؀-ۿ]",
    "devanagari": "[ऀ-ॿ]",
    "hangul": "[가-힣]",
    "kana": "[぀-ヿ]",
    "han": "[一-鿿]",
}

SCRIPT_LANGS = [  # fixed priority order (mirrored in the SQL oracle)
    ("cyrillic", "ru"), ("greek", "el"), ("arabic", "ar"),
    ("devanagari", "hi"), ("hangul", "ko"),
]


def trigram_weights(lang: str) -> dict[str, int]:
    """trigram → integer weight (descending rank) for one profile."""
    tris = CHAR_TRIGRAM_PROFILES[lang]
    return {t: len(tris) - i for i, t in enumerate(tris)}


def _char_norm(text_col) -> F.Column:
    """Space-padded lowercase-letter normalization of a text column.

    Callers MUST materialize this as its own column (``withColumn``)
    before windowing trigrams over it: higher-order functions are
    interpreted (CodegenFallback), so an expression embedded in the
    ``transform`` lambda is re-evaluated PER ELEMENT — inlining the
    regexp_replace here turned trigram extraction O(len²) per doc.  A
    materialized column is a bound reference inside the lambda (and
    CollapseProject keeps the producing projection because the
    non-cheap expression is referenced more than once)."""
    return F.concat(
        F.lit(" "),
        F.regexp_replace(F.lower(text_col), "[^a-z]+", " "),
        F.lit(" "))


def _char_trigrams(norm_col) -> F.Column:
    """All 3-char windows of an (already materialized) normalized
    string column — see `_char_norm` for why it must be a column
    reference, not an inline expression."""
    n = F.length(norm_col)
    return F.when(
        n >= 3,
        F.transform(F.sequence(F.lit(1), n - 2),
                    lambda i: norm_col.substr(i, F.lit(3))),
    ).otherwise(F.array().cast("array<string>"))


def lang_id(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Two-stage language guess over 15 languages (CLD-style):

    1. **Script detection** — count characters per Unicode script
       (``SCRIPT_PATTERNS``); the dominant script decides directly for
       ru/el/ar/hi/ko, and CJK resolves ja-vs-zh by kana share
       (Japanese prose is kana-heavy: ja iff 2·kana > han).
    2. **Trigram profiles** — Latin-script text goes to the Cavnar-
       Trenkle rank-profile argmax over en/de/fr/es/it/pt/nl/sv
       (fixed profile order breaks ties, zero total ⇒ 'und').

    Everything is integer arithmetic (cross-engine float-tie rule),
    so the DuckDB oracle reproduces the classification exactly.

    Plan shape: ONE ``aggregate`` pass over the trigram array against
    a combined trigram → per-language weight-vector map (`zip_with`
    accumulator), with the argmax + tie rule folded into the
    aggregate's ``finish`` lambda so the 250-entry literal map occurs
    exactly once in the plan; the script counters are ``regexp_count``
    projections — no explode, no join, no shuffle; per-doc work is
    O(len(text)) map lookups.  Higher-order functions are interpreted
    (CodegenFallback), which made two costs real in the old
    8-aggregates-plus-CASE form: the normalization regexp was inlined
    into the trigram lambda (re-evaluated per TRIGRAM → O(len²)/doc,
    fixed by materializing ``_li_norm`` first — see `_char_norm`) and
    the per-language literal maps were scanned 8× per trigram.  The
    single-pass form cut the sf0.01 driver query 22.5 s → 1.9 s
    end-to-end with bit-identical classifications — integer sums per
    language are unchanged, and ``array_position`` of the max
    reproduces the first-max-wins fixed profile order.  A
    corpus-trained profile TABLE would broadcast-join the exploded
    trigrams instead; at 10^12 docs the in-row form is strictly
    better (no mention-scale explode)."""
    text = F.col(text_col)
    staged = docs.withColumn("_li_norm", _char_norm(text))
    tris = _char_trigrams(F.col("_li_norm"))
    langs = list(CHAR_TRIGRAM_PROFILES)
    combined: dict[str, list[int]] = {}
    for i, lg in enumerate(langs):
        for t, w in trigram_weights(lg).items():
            combined.setdefault(t, [0] * len(langs))[i] = w
    wmap = F.create_map(*[
        x for t in sorted(combined)
        for x in (F.lit(t), F.array(*[F.lit(w) for w in combined[t]]))])
    zero = F.array(*[F.lit(0) for _ in langs])
    lang_arr = F.array(*[F.lit(lg) for lg in langs])
    # Whole Latin-script decision inside `finish`: when the best
    # trigram score is ≤0 → 'und', else the FIRST language (profile
    # order) attaining the max — `array_position` returns the first
    # index, mirroring the old fixed-order when-chain exactly.
    latin_guess = F.aggregate(
        tris, zero,
        lambda acc, t: F.zip_with(
            acc, F.coalesce(F.try_element_at(wmap, t), zero),
            lambda a, b: a + b),
        lambda acc: F.when(F.array_max(acc) <= 0, F.lit("und"))
        .otherwise(F.element_at(
            lang_arr,
            F.array_position(acc, F.array_max(acc)).cast("int"))))

    c = {name: F.regexp_count(text, F.lit(pat))
         for name, pat in SCRIPT_PATTERNS.items()}
    cjk = c["han"] + c["kana"]
    scr_best = F.greatest(
        c["latin"], *[c[s] for s, _ in SCRIPT_LANGS], cjk)
    guess = F.when(scr_best == 0, F.lit("und")) \
        .when(c["latin"] == scr_best, latin_guess)
    for script, lg in SCRIPT_LANGS:
        guess = guess.when(c[script] == scr_best, F.lit(lg))
    guess = guess.otherwise(  # CJK: kana share separates ja from zh
        F.when(2 * c["kana"] > c["han"], F.lit("ja"))
        .otherwise(F.lit("zh")))
    return staged.withColumn("lang_guess", guess).drop("_li_norm")


def pack_sequences(docs: DataFrame, capacity: int,
                   shard_col: str = "lang", id_col: str = "doc_id",
                   weight_col: str | None = None,
                   text_col: str = "text") -> DataFrame:
    """Concat-and-chunk packing for LLM training batches: within each
    shard, documents are laid out contiguously in id order and cut
    into fixed-``capacity`` token chunks — the standard pretraining
    data layout (concatenate, then split at the context length).

    Adds ``pack_weight`` (the document's token count unless
    ``weight_col`` supplies one), ``pack_start`` (its offset in the
    shard's token stream), ``chunk_id`` / ``chunk_offset`` (where its
    first token lands) and ``n_chunks`` (how many chunks it spans —
    always ≥1 so empty documents stay addressable).

    Scale shape: ONE window partitioned by ``shard_col`` — never a
    global ordering.  Shards (language, source, date bucket) are the
    parallelism unit; a global pack over 10^12 docs would serialize
    on a single partition, which is exactly the
    ``WindowExec: No Partition Defined`` trap.  All arithmetic is
    integer, so the DuckDB oracle reproduces the layout exactly."""
    from pyspark.sql import Window

    weight = (F.col(weight_col) if weight_col else
              F.size(F.filter(
                  F.split(F.lower(F.col(text_col)), r"[^a-z0-9]+"),
                  lambda t: t != ""))).cast("long")
    w = Window.partitionBy(shard_col).orderBy(id_col)
    out = docs.withColumn("pack_weight", weight).withColumn(
        "pack_start",
        (F.sum("pack_weight").over(w) - F.col("pack_weight"))
        .cast("long"))
    cap = int(capacity)
    return out.withColumns({
        "chunk_id": F.expr(f"pack_start div {cap}"),
        "chunk_offset": F.pmod("pack_start", F.lit(cap)).cast("long"),
        "n_chunks": F.when(
            F.col("pack_weight") > 0,
            F.expr(f"(pack_start + pack_weight - 1) div {cap}")
            - F.expr(f"pack_start div {cap}") + 1,
        ).otherwise(F.lit(1)).cast("long"),
    })


def hash_sample(docs: DataFrame, rates: dict[str, float],
                stratum_col: str = "lang", key_col: str = "doc_id",
                default_rate: float = 0.0,
                denom: int = 1_000_000,
                salt: str = "#sample") -> DataFrame:
    """Deterministic stratified sampling: keep a row iff the
    polynomial hash of its salted key (the same engine-agnostic
    :func:`token_hash` the dedup family uses) falls under its
    stratum's integer threshold (``rate`` in parts-per-``denom``).

    ``salt`` is appended to the key before hashing: short keys (small
    integer ids) don't accumulate enough polynomial wraps mod 2³¹−1
    to be uniform mod ``denom`` — the suffix lengthens every key past
    the mixing threshold (measured: unsalted 4-digit ids keep 50% at
    a 30% threshold; salted, 29.7%).  Changing the salt draws an
    independent sample (e.g. train/validation splits).

    Properties a training-data pipeline needs that ``DataFrame
    .sampleBy`` doesn't give: reproducible across runs, engines,
    partitionings AND dataset growth (a kept key stays kept when new
    data arrives — hash thresholds are consistent sampling), with no
    RNG state to ship.  Narrow projection + filter, no shuffle.
    Keeps ``sample_hash`` for audit."""
    h = F.pmod(token_hash(F.concat(F.col(key_col).cast("string"),
                                   F.lit(salt))),
               F.lit(denom))
    thr = None
    for stratum, rate in sorted(rates.items()):
        cond = F.col(stratum_col) == stratum
        val = F.lit(int(round(rate * denom)))
        thr = F.when(cond, val) if thr is None else thr.when(cond, val)
    default = F.lit(int(round(default_rate * denom)))
    thr = default if thr is None else thr.otherwise(default)
    return (docs.withColumn("sample_hash", h)
            .where(F.col("sample_hash") < thr))


def quality_features(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / punctuation / stopword-ratio quality signals.

    The token array is a staging column: the old inline form
    re-tokenized the document once per reference (~6× per row across
    n_tokens / ratios / mean length)."""
    text = F.col(text_col)
    staged = docs.withColumn(
        "_qf_toks",
        F.filter(F.split(F.lower(text), r"[^a-z0-9]+"),
                 lambda t: t != ""))
    arr = F.col("_qf_toks")
    n_tokens = F.size(arr)
    n_chars = F.length(text)
    n_punct = n_chars - F.length(F.regexp_replace(text, r"[^\w\s]", ""))
    stop_ratio = F.when(
        n_tokens > 0,
        _stop_hits(arr, STOPWORDS["en"]) / n_tokens.cast("double")
    ).otherwise(0.0)
    return staged.withColumns({
        "n_chars": n_chars.cast("long"),
        "n_tokens": n_tokens.cast("long"),
        "punct_ratio": F.round(n_punct / F.greatest(n_chars, F.lit(1))
                               .cast("double"), 6),
        "stopword_ratio": F.round(stop_ratio, 6),
        "mean_token_len": F.round(
            F.when(n_tokens > 0,
                   F.aggregate(arr, F.lit(0),
                               lambda acc, t: acc + F.length(t))
                   / n_tokens.cast("double")).otherwise(0.0), 6),
    }).drop("_qf_toks")


def doc_fingerprint(docs: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Order-sensitive rolling fingerprint over hashed token ids:
    fp = Σ (token_id(pos) · (pos+1) mod p) mod p — engine-agnostic,
    catches reorderings that bag-of-words hashes miss. Per-term mod
    keeps every partial sum < p·n_tokens, ANSI-overflow-safe."""
    tok = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(
            F.filter(F.split(F.lower(F.col(text_col)), r"[^a-z0-9]+"),
                     lambda t: t != "")
        ).alias("pos", "token"),
    )
    term = (token_hash(F.col("token")) * (F.col("pos") + 1)) \
        % F.lit(MINHASH_PRIME)
    return (
        tok.select("doc_id", term.alias("term"))
        .groupBy("doc_id")
        .agg((F.sum("term") % F.lit(MINHASH_PRIME)).alias("fingerprint"))
    )


# PII patterns restricted to the Java-regex ∩ RE2 common subset (no
# lookaround, no backreferences) so Spark and the DuckDB oracle
# compute identical redactions. Order matters: URLs first (they may
# embed @ and dots), then emails, IPs, phone-like digit runs.
PII_PATTERNS = [
    ("url", r"https?://[^\s]+", "<URL>"),
    ("email", r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}",
     "<EMAIL>"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\+?\d[\d().-]{6,}\d\b", "<PHONE>"),
]


def redact_pii(docs: DataFrame, id_col: str = "doc_id",
               text_col: str = "text") -> DataFrame:
    """(doc_id, redacted, n_<kind>...) — scrub emails/URLs/IPs/
    phone-like digit runs from a text column, counting hits per kind.
    Pure column expressions (regexp_count + chained regexp_replace) —
    a narrow, shuffle-free pass however large the corpus."""
    out = docs.select(F.col(id_col).alias("doc_id"),
                      F.col(text_col).alias("redacted"))
    counts = []
    for kind, pat, token in PII_PATTERNS:
        counts.append(
            F.regexp_count(F.col("redacted"), F.lit(pat))
            .alias(f"n_{kind}"))
        out = out.select(
            "doc_id", *[f"n_{k}" for k, _, _ in
                        PII_PATTERNS[:len(counts) - 1]],
            counts[-1],
            F.regexp_replace("redacted", pat, token).alias("redacted"),
        )
    return out.select(
        "doc_id", "redacted", *[f"n_{k}" for k, _, _ in PII_PATTERNS])


def skipgram_pairs(docs: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id",
                   window: int = 2) -> DataFrame:
    """Skip-gram (center, context) pair counts — the word2vec/SGNS
    training-pair table (Mikolov et al. 2013): for every token, each
    token at distance 1..``window`` on either side is one context
    observation.  Returns ``(center, context, n)`` aggregated over
    the corpus.  Tokens are the corpus word tokenizer's (lowercase,
    [a-z0-9]+ runs).

    Scale shape (10^12 docs): pair expansion is IN-ROW (transform
    over an index sequence on the staged token array — bounded by
    2·window per token), then one map-side-combined aggregate keyed
    by the pair; Zipf-hot pairs are absorbed by partial aggregation
    (the vocab_stats argument).  ONE exchange total.
    """
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), r"[^a-z0-9]+"),
        lambda t: t != "")
    staged = docs.select(F.col(id_col).alias("_doc"),
                         toks.alias("_tok"))
    n = F.size("_tok")
    pairs = F.flatten(F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.filter(
            F.transform(
                F.sequence(F.lit(-window), F.lit(window)),
                lambda d: F.when(
                    (d != 0) & (i + d >= 1) & (i + d <= n),
                    F.struct(
                        F.get(F.col("_tok"), i - 1).alias("center"),
                        F.get(F.col("_tok"), i + d - 1)
                        .alias("context")))),
            lambda s: s.isNotNull())))
    return (staged.where(n > 0)
            .select(F.explode(pairs).alias("p"))
            .groupBy(F.col("p.center").alias("center"),
                     F.col("p.context").alias("context"))
            .agg(F.count("*").alias("n")))


def subsample_frequent(docs: DataFrame, t_num: int = 1,
                       t_den: int = 10_000,
                       text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """Frequent-word subsampling (Mikolov et al. 2013 §2.3): each
    OCCURRENCE of word w survives with probability
    ``sqrt(t / f(w))`` (f = corpus-relative frequency, t =
    ``t_num/t_den``), aggressively thinning "the"-class tokens
    before skip-gram extraction while leaving rare words intact.

    The coin flip is exact integer arithmetic: with u = h/P (the
    per-occurrence polynomial hash of (doc, pos, token) over
    P = 2^31-1), ``u < sqrt(tT/c)  ⟺  h²·c·t_den < P²·t_num·T``
    (lhs ≤ 38 digits: exact up to corpus totals T·t_den ~ 1e19, far
    past 10^12 tokens), so the decision replays bit-for-bit in
    DuckDB (HUGEINT), and that product comparison IS the oracle SQL.
    On the Spark side the same predicate is evaluated as
    ``h ≤ isqrt((P²·t_num·T − 1) div (c·t_den))`` — an exactly
    equivalent per-VOCAB-ROW threshold (h² ≤ q ⟺ h ≤ isqrt(q);
    isqrt = float sqrt + ±1 integer correction, exact for q < 2^63)
    — because the hash is an interpreted higher-order fold and
    predicate pushdown re-inlines staged aliases into the filter
    (PLANS.md "Higher-order functions are interpreted"): squaring h
    in the predicate would run the fold TWICE per occurrence, the
    hot path of the whole operator.  The quotient is capped at
    (P−1)² first (the all-survive case) so the ``div``'s long result
    can't wrap.  Words with c·t_den ≤ t_num·T always survive,
    exactly like the paper.

    Returns one row per document:
    ``(doc_id, n_tokens, n_kept, subsampled_text)`` (surviving
    tokens in order, single-space-joined).

    Scale shape (10^12 docs): the vocab pass is the two-phase
    ``vocab_stats`` aggregate; the corpus total rides in as ONE
    broadcast scalar row (BM25 pattern); the occurrence→threshold
    join is token-keyed (vocab-sized right side — AQE broadcasts
    when it fits, splits the Zipf-hot stream side otherwise, the
    ``unigram_surprisal`` precedent); the rebuild is one doc-keyed
    aggregate bounded by document size.
    """
    if t_num < 1 or t_den < 1:
        raise ValueError(
            f"subsample_frequent needs t_num, t_den >= 1; got "
            f"t_num={t_num!r} t_den={t_den!r}")
    prime2 = MINHASH_PRIME * MINHASH_PRIME

    toks = docs.select(
        F.col(id_col).alias("_doc"),
        F.posexplode(
            F.filter(
                F.split(F.lower(F.col(text_col)), r"[^a-z0-9]+"),
                lambda t: t != "")).alias("pos", "token"))

    cf = toks.groupBy("token").agg(F.count("*").alias("_cf"))
    total = cf.agg(F.sum("_cf").alias("_t"))
    # per-vocab-row sides of the product comparison (never computed
    # per occurrence): lhs_f = c·t_den, rhs = P²·t_num·T, folded into
    # the exact hash threshold _thr = isqrt((rhs−1) div lhs_f) so the
    # per-occurrence filter evaluates the interpreted hash fold ONCE.
    hmax = MINHASH_PRIME - 1  # token_hash range is [0, P-1]
    lam = (cf.crossJoin(F.broadcast(total))
           .select(
               "token",
               F.expr(f"CAST(_cf AS DECIMAL(38,0)) * {t_den}")
               .alias("_lhs_f"),
               F.expr(f"CAST({prime2} AS DECIMAL(38,0))"
                      f" * {t_num} * _t").alias("_rhs"))
           # q = (rhs−1) div lhs, capped BEFORE the div at hmax²
           # (every h survives there) so the long result can't wrap
           .withColumn(
               "_q",
               F.when(F.expr(f"CAST({hmax * hmax} AS DECIMAL(38,0)) "
                             f"* _lhs_f < _rhs"),
                      F.lit(hmax * hmax).cast("long"))
               .otherwise(F.expr("CAST((_rhs - 1) div _lhs_f "
                                 "AS BIGINT)"))))
    # exact isqrt(q): float sqrt is within 1 of the true root for
    # q < 2^63, so one ±1 correction pins it
    s0 = F.floor(F.sqrt(F.col("_q").cast("double"))).cast("long")
    lam = lam.withColumn("_s0", s0).withColumn(
        "_s1",
        F.when((F.col("_s0") + 1) * (F.col("_s0") + 1) <= F.col("_q"),
               F.col("_s0") + 1).otherwise(F.col("_s0")))
    lam = lam.select(
        "token",
        F.when(F.col("_s1") * F.col("_s1") > F.col("_q"),
               F.col("_s1") - 1).otherwise(F.col("_s1"))
        .alias("_thr"))

    h = token_hash(F.concat_ws(
        "\x1f", F.col("_doc").cast("string"),
        F.col("pos").cast("string"), "token"))
    occ = toks.join(lam, "token").withColumn("_h", h)
    kept = occ.where(F.col("_h") <= F.col("_thr"))

    rebuilt = kept.groupBy("_doc").agg(
        F.count("*").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "token"))),
                lambda s: s["token"]), " ").alias("subsampled_text"))
    totals = toks.groupBy("_doc").agg(F.count("*").alias("n_tokens"))
    return (docs.select(F.col(id_col).alias("_doc"))
            .join(totals, "_doc", "left")
            .join(rebuilt, "_doc", "left")
            .select(
                F.col("_doc").alias(id_col),
                F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
                F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
                F.coalesce("subsampled_text", F.lit(""))
                .alias("subsampled_text")))


def fim_transform(docs: DataFrame, rate_ppm: int = 500_000,
                  denom: int = 1_000_000,
                  id_col: str = "doc_id",
                  text_col: str = "text",
                  pre_tok: str = "<PRE>",
                  suf_tok: str = "<SUF>",
                  mid_tok: str = "<MID>",
                  salt: str = "#fim") -> DataFrame:
    """Fill-in-the-middle transform (Bavarian et al. 2022, "Efficient
    Training of Language Models to Fill in the Middle"): for a
    deterministic ``rate_ppm``/``denom`` fraction of documents, cut
    the text at two hash-chosen character positions and emit it in
    PSM order ``<PRE> prefix <SUF> suffix <MID> middle`` so an
    autoregressive trainer learns infilling; the rest pass through
    untouched (the paper's mixed regime).

    All three draws are the salted consistent polynomial hash
    (:func:`token_hash` — the engine-agnostic convention every
    sampler here uses): the doc-selection coin is
    ``hash(id#fim) mod denom < rate_ppm``; the two cut points are
    ``hash(id#fim#a|b) mod (len+1)`` sorted, so the layout replays
    bit-for-bit in DuckDB and re-runs are idempotent.  Sentinel
    tokens are caller-chosen and must not occur in the corpus (the
    usual out-of-vocab specials); reassembly
    ``prefix + middle + suffix`` is lossless and property-tested.

    Scale shape: pure per-row column expressions — no shuffle, no
    aggregate, no UDF; Catalyst keeps the whole thing in one
    projection over the scan."""
    if not 0 <= rate_ppm <= denom:
        raise ValueError(
            f"rate_ppm must be in [0, {denom}]; got {rate_ppm}")
    key = F.concat(F.col(id_col).cast("string"), F.lit(salt))
    pick = F.pmod(token_hash(key), F.lit(denom)) < rate_ppm
    n = F.length(F.col(text_col))
    a = F.pmod(token_hash(F.concat(key, F.lit("#a"))), n + 1)
    b = F.pmod(token_hash(F.concat(key, F.lit("#b"))), n + 1)
    start = F.least(a, b)
    end = F.greatest(a, b)
    prefix = F.col(text_col).substr(F.lit(1), start)
    middle = F.col(text_col).substr(start + 1, end - start)
    suffix = F.col(text_col).substr(end + 1, n - end)
    # -1 sentinel (not NULL) for pass-through rows: the oracle gate's
    # row sort can't order mixed NULL/int columns (CLAUDE.md)
    return docs.select(
        id_col,
        pick.alias("fim_applied"),
        F.when(pick, start.cast("long")).otherwise(F.lit(-1))
        .alias("split_start"),
        F.when(pick, end.cast("long")).otherwise(F.lit(-1))
        .alias("split_end"),
        F.when(pick, F.concat(F.lit(pre_tok), prefix,
                              F.lit(suf_tok), suffix,
                              F.lit(mid_tok), middle))
        .otherwise(F.col(text_col)).alias("fim_text"))
