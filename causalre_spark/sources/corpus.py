"""Deterministic synthetic Common-Crawl-style page corpus.

Schema = BASELINE.json input_hint: (url string, warc_ts timestamp,
html binary, text string, lang string). Page content is a pure function
of the document index (md5-seeded — no RNG state, no wall clock), so any
scale regenerates identically on driver or executors; generation at
bench scale runs distributed via mapInPandas over spark.range().

Content properties (exercised by the pipeline):
  - Zipf-skewed domains (a few hot domains -> skew/salting is testable)
  - causal-template sentences ("X caused Y", "... led to ...") so the
    extraction stages produce meaningful spans/relations/triples
  - mention surface variants (case, plural) so entity linking has
    real near-duplicate clusters
  - a minority of non-en rows (language filtering)
  - html wraps text in <p> paragraphs; extract.extract_text(html) is
    byte-identical to the text column (per-row invariant under test)
"""

from __future__ import annotations

import datetime as _dt
import html as _html

from causalre_spark.functions.hashing import md5_long

N_DOMAINS = 20
_DOM_WEIGHTS = [1.0 / (r + 1) for r in range(N_DOMAINS)]  # Zipf s=1
_DOM_CUM = []
_acc = 0.0
for _w in _DOM_WEIGHTS:
    _acc += _w
    _DOM_CUM.append(_acc)
_DOM_TOTAL = _acc

SUBJECTS = [
    "heavy rain", "the earthquake", "rising prices", "supply shortages",
    "the policy change", "severe drought", "the cyberattack", "budget cuts",
    "the heat wave", "crop failure", "the strike", "currency devaluation",
    "the wildfire", "overfishing", "the embargo", "rapid urbanization",
]
OBJECTS = [
    "severe flooding", "widespread damage", "public protests", "factory closures",
    "higher unemployment", "water rationing", "data breaches", "service delays",
    "power outages", "food insecurity", "traffic disruption", "inflation spikes",
    "habitat loss", "fish stock collapse", "fuel shortages", "housing pressure",
]
TRIGGERS = ["caused", "led to", "resulted in", "triggered", "sparked", "produced"]
FILLERS = [
    "officials met on tuesday to review the situation",
    "analysts expect the trend to continue next quarter",
    "local residents were advised to stay indoors",
    "the report was published after a lengthy delay",
    "markets remained calm through the afternoon session",
    "the committee will publish its findings next month",
]
_NONEN = {
    "de": "der bericht wurde am dienstag veroeffentlicht und die lage bleibt stabil",
    "es": "el informe fue publicado el martes y la situacion sigue estable",
    "fr": "le rapport a ete publie mardi et la situation reste stable",
    "zh": "报告 于 周二 发布 情况 保持 稳定",
}
LANGS = ["en", "en", "en", "en", "en", "en", "en", "en", "de", "es", "fr", "zh"]
_BASE_TS = _dt.datetime(2025, 1, 1, tzinfo=_dt.timezone.utc)


def _pick(seq, key: str):
    return seq[md5_long(key) % len(seq)]


def _u(key: str) -> float:
    return md5_long(key) / float(16**12)


def _domain(i: int) -> str:
    u = _u(f"dom#{i}") * _DOM_TOTAL
    for r, c in enumerate(_DOM_CUM):
        if u <= c:
            return f"d{r:02d}.example.org"
    return f"d{N_DOMAINS - 1:02d}.example.org"


def _variant(phrase: str, key: str) -> str:
    """Deterministic surface variant — exercises entity canonicalization."""
    v = md5_long(key) % 4
    if v == 1:
        return phrase.capitalize()
    if v == 2:
        return phrase.title()
    if v == 3 and not phrase.endswith("s"):
        return phrase + "s"
    return phrase


# qualifier pool: mention diversity must scale with the corpus (real web
# text has ~unbounded entity vocabularies); without this the entity graph
# degenerates to a few dozen nodes and the linking stages measure nothing.
# Qualifiers are distinct pseudo place-names (not serial numbers): char
# shingle similarity between different places stays well below the
# linking threshold, like real entity names.
_SYL1 = ["ka", "po", "ren", "vi", "mo", "ta", "lu", "shi", "ber", "dan"]
_SYL2 = ["gol", "mar", "ney", "ric", "sol", "tam", "ver", "win", "zor", "fel"]
_SUFFIX = ["ville", "ton", "burg", "field", "port", "dale"]
N_PLACES = len(_SYL1) * len(_SYL2) * len(_SUFFIX)  # 600


def _place(k: int) -> str:
    return (_SYL1[k % len(_SYL1)]
            + _SYL2[(k // len(_SYL1)) % len(_SYL2)]
            + _SUFFIX[(k // (len(_SYL1) * len(_SYL2))) % len(_SUFFIX)])


def _qualified(phrase: str, key: str) -> str:
    u = md5_long(key)
    if u % 5 < 3:  # 60%: attach a place qualifier
        return f"{phrase} in {_place(u % N_PLACES)}"
    return phrase


def gen_page(i: int) -> dict:
    """Pure function doc index -> page row."""
    url = f"https://{_domain(i)}/doc/{i}"
    lang = _pick(LANGS, f"lang#{i}")
    if lang != "en":
        text = _NONEN[lang]
    else:
        # realistic Common-Crawl-ish page length (~10 sentences, 100-250 tokens)
        n_causal = 2 + md5_long(f"nc#{i}") % 4
        n_filler = 3 + md5_long(f"nf#{i}") % 5
        sents = []
        for j in range(n_causal):
            subj = _qualified(_variant(_pick(SUBJECTS, f"s#{i}#{j}"), f"sv#{i}#{j}"),
                              f"sq#{i}#{j}")
            obj = _qualified(_variant(_pick(OBJECTS, f"o#{i}#{j}"), f"ov#{i}#{j}"),
                             f"oq#{i}#{j}")
            trig = _pick(TRIGGERS, f"t#{i}#{j}")
            sents.append(f"{subj} {trig} {obj} .")
        for j in range(n_filler):
            sents.append(_pick(FILLERS, f"f#{i}#{j}") + " .")
        # deterministic interleave
        order = sorted(range(len(sents)), key=lambda k: md5_long(f"ord#{i}#{k}"))
        text = " ".join(sents[k] for k in order)
    # paragraphs: split sentences into 1-2 <p> blocks
    parts = text.split(" . ")
    if len(parts) > 2:
        cut = len(parts) // 2
        p1 = " . ".join(parts[:cut]) + " ."
        p2 = " . ".join(parts[cut:])
        paras = [p1, p2]
        text = p1 + "\n\n" + p2
    else:
        paras = [text]
    body = "".join(f"<p>{_html.escape(p)}</p>" for p in paras)
    page_html = (
        f'<html><head><meta charset="utf-8"/><title>doc {i}</title></head>'
        f"<body><article>{body}</article></body></html>"
    ).encode("utf-8")
    ts = _BASE_TS + _dt.timedelta(seconds=md5_long(f"ts#{i}") % (365 * 86400))
    return {"url": url, "warc_ts": ts, "html": page_html, "text": text, "lang": lang}


PAGES_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"


def causal_suffix(key: str) -> str:
    """One deterministic causal-template sentence keyed on `key` —
    used to seed trigger-free corpora (e.g. the driver testdata, which
    contains zero causal-trigger tokens) so the flagship extraction is
    provably non-vacuous there. Pure function; shared by the Spark
    seeded-pages adapter and the parity-test oracle."""
    subj = _variant(_pick(SUBJECTS, f"ss#{key}"), f"ssv#{key}")
    obj = _variant(_pick(OBJECTS, f"so#{key}"), f"sov#{key}")
    trig = _pick(TRIGGERS, f"st#{key}")
    return f"{subj} {trig} {obj} ."


def seed_sentences(key: str) -> list[str]:
    """Denser deterministic seed mix (VERDICT r03 #6): always one
    causal sentence; a second with an independent trigger draw on 1/3
    of keys (cross-trigger coverage + dedup pressure on shared
    mentions); a TRIGGER-FREE distractor naming a template subject on
    2/5 of keys (a cross-sentence negative — the extractor must not
    link the bare mention to a neighboring sentence's trigger). Pure
    function shared by the Spark seeded-pages adapter and the
    parity-test oracle."""
    out = [causal_suffix(key)]
    u = md5_long(f"seedmix#{key}")
    if u % 3 == 0:
        out.append(causal_suffix(f"{key}#b"))
    if u % 5 < 2:
        subj = _variant(_pick(SUBJECTS, f"dx#{key}"), f"dxv#{key}")
        out.append(f"the report described {subj} without further detail .")
    return out


def page_from_document(doc_id, source: str, text: str, lang: str,
                       seed_causal: bool = False) -> dict:
    """input_hint page row from a driver-testdata `documents` row.

    Pure function shared by the seeded-pages adapter in
    plans/entry_queries (behind causal_triples_seeded and
    __spark_entry__.entry) and the single-process oracle in the parity
    tests, so both worlds build byte-identical pages. The html wrap
    matches the relational `_pages_from_documents` spelling exactly
    (testdata text is html-safe: no & < > — asserted in tests).

    seed_causal sentence-izes the body (a period every 8 tokens) before
    appending the causal sentence: the driver corpus is punctuation-free
    word soup, where arbitrarily long boundary-free spans dominate the
    top-k and crowd out real mentions — real web text (and the builder
    corpus) has sentence boundaries, which is the text shape the seeded
    non-vacuous gate is meant to exercise."""
    if seed_causal:
        words = text.split(" ")
        chunks = [" ".join(words[i: i + 8]) for i in range(0, len(words), 8)]
        text = " . ".join(chunks) + " . " + " ".join(seed_sentences(str(doc_id)))
    return {
        "url": f"https://{source}.example.org/doc/{doc_id}",
        "warc_ts": _dt.datetime(2025, 1, 1),
        "html": f"<html><body><p>{text}</p></body></html>".encode("utf-8"),
        "text": text,
        "lang": lang,
    }


def synth_pages_df(spark, n: int, partitions: int | None = None):
    """Distributed generation: spark.range(n) -> mapInPandas(gen_page).

    No driver-side materialization — scales to any n an executor fleet
    can hold; generation cost is embarrassingly parallel.
    """
    import pandas as pd

    def gen(batches):
        for pdf in batches:
            rows = [gen_page(int(i)) for i in pdf["id"]]
            yield pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"])

    rng = spark.range(n)
    if partitions:
        rng = rng.repartition(partitions)
    return rng.mapInPandas(gen, schema=PAGES_SCHEMA)
