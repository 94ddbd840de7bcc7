"""Seeded input generators, one per workload.

Each generator is a pure function of ``(seed, n)`` that returns a pandas
frame in the input_hint schema (url, warc_ts, html, text, lang, family).
``write_partitioned`` lays a frame out as dt-partitioned parquet, which is
all the program under test ever sees. No Spark is used here, so input
generation never runs inside a timed or set-up phase.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from langid_mr_spark import fixtures
from langid_mr_spark import textnorm as TN

ARROW_SCHEMA = pa.schema([
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
    ("family", pa.string()),
])

_EPOCH = dt.datetime(2025, 3, 1, tzinfo=dt.timezone.utc)
_DAYS = 4

# Fluent sentences written for this benchmark. Pages are built by sampling
# whole sentences, so every page reads as running prose with the stopword
# density of real web text.
_EN = [
    "we have been working on the new version of the site for a few months "
    "and we are happy to share it with you today",
    "if you have any questions about your order please write to us and we "
    "will get back to you as soon as we can",
    "the city council met on monday to talk about the plan for the new "
    "bridge over the river near the old market",
    "this recipe is easy to make at home and it only takes about twenty "
    "minutes from start to finish",
    "our team spent the whole summer testing the boats on the lake before "
    "the race at the end of the season",
    "there are many ways to learn a language but the best one is to use it "
    "every day with people you like",
    "she said that the museum will stay open late on friday so that more "
    "families can visit after work",
    "when the weather is good we take the children to the park and they "
    "play until it is time for dinner",
    "the report shows that sales went up in the spring and that most of "
    "the growth came from the north of the country",
    "you can find more information about the event on our page and you can "
    "also sign up for the weekly letter",
    "it was a long day at the office but in the evening we went out for a "
    "walk along the beach",
    "they are looking for a few people who want to help with the garden on "
    "the weekend and in the morning",
]
_FR = [
    "nous travaillons sur la nouvelle version du site depuis quelques mois "
    "et nous sommes heureux de la partager avec vous",
    "si vous avez des questions sur votre commande vous pouvez nous écrire "
    "et nous vous répondrons dans la journée",
    "le conseil de la ville a parlé lundi du projet pour le nouveau pont "
    "sur la rivière près du vieux marché",
    "cette recette est facile à faire à la maison et elle ne prend que "
    "vingt minutes du début à la fin",
    "notre équipe a passé tout l'été à tester les bateaux sur le lac avant "
    "la course de la fin de la saison",
    "il y a plusieurs façons d'apprendre une langue mais la meilleure est "
    "de la parler tous les jours avec des amis",
    "elle a dit que le musée restera ouvert tard le vendredi pour que les "
    "familles puissent venir après le travail",
    "quand il fait beau nous allons au parc avec les enfants et ils jouent "
    "jusqu'à l'heure du dîner",
    "le rapport montre que les ventes ont augmenté au printemps et que la "
    "croissance vient surtout du nord du pays",
    "vous trouverez plus d'informations sur notre page et vous pouvez aussi "
    "vous inscrire à la lettre de la semaine",
    "la journée au bureau était longue mais le soir nous sommes allés nous "
    "promener le long de la plage",
    "ils cherchent des personnes qui veulent aider dans le jardin pendant "
    "le week-end et le matin",
]
# Short foreign-language pages: the scorer knows es/de, so these leave pass
# 1 and pass 2 undecided and end in the pass-3 fallback scorer.
_ES = (
    "la tienda abre todos los días por la mañana y cierra tarde . hoy "
    "tenemos ofertas en ropa y zapatos para toda la familia . el equipo de "
    "la ciudad ganó el partido del domingo en casa . puede encontrar el "
    "horario del tren en la estación central . los vecinos preparan una "
    "fiesta en la plaza para el sábado"
).split(" . ")
_DE = (
    "der laden ist jeden tag von morgens bis abends geöffnet . heute gibt "
    "es angebote für kleidung und schuhe für die ganze familie . die "
    "mannschaft der stadt hat das spiel am sonntag gewonnen . den fahrplan "
    "finden sie am hauptbahnhof . die nachbarn feiern am samstag ein fest "
    "auf dem platz"
).split(" . ")
# Stopword-poor pages: proper nouns and keyword lists with no function words.
_NAMES = ("Zanzibar Kilimanjaro Serengeti Okavango Madagascar Mozambique "
          "Botswana Namibia Tanzania Lusaka Harare Maputo Windhoek Gaborone "
          "Dodoma Arusha Moshi Kigali Kampala Nairobi").split()
_BRACKET = ("[menú principal]", "[página de inicio]", "[más información]",
            "[derechos reservados]", "[navegación]", "[buscar en el sitio]")
_PII = ("write to {u}@example.com or call +1-555-{d:04d} for details",
        "the server at 10.0.{a}.{b} sends the weekly report")


_SPLIT = {id(bank): [s.split() for s in bank] for bank in (_EN, _FR)}


def _url(prefix: str, seed: int, i: int) -> str:
    return f"https://{prefix}{i % 89}.example/s{seed}/{i:07d}"


def _ts(rng: np.random.Generator, i: int) -> dt.datetime:
    return _EPOCH + dt.timedelta(days=int(rng.integers(0, _DAYS)),
                                 seconds=int(37 * i % 86400))


def _frame(rows: list[dict]) -> pd.DataFrame:
    return pd.DataFrame(rows, columns=ARROW_SCHEMA.names)


def _prose(rng: np.random.Generator, bank: list[str], n_words: int) -> str:
    """Whole sentences drawn from ``bank`` until the page has ``n_words``
    words; the draws are made in one call, enough for the shortest
    sentences."""
    sentences = _SPLIT[id(bank)]
    shortest = min(len(s) for s in sentences)
    words: list[str] = []
    for j in rng.integers(0, len(bank), n_words // shortest + 1):
        words.extend(sentences[j])
        words.append(".")
        if len(words) >= n_words:
            break
    return " ".join(words)


def crawl_head(seed: int, n: int) -> pd.DataFrame:
    """Fluent EN/FR pages that pass 1 decides, with a long-document tail:
    one page in ten is 20-100x the median length. The long pages' length
    multipliers are spread evenly over 20-100 and dealt out by the seed, so
    every seed carries the same total text."""
    rng = np.random.default_rng([seed, 1])
    n_long = n // 10
    mult = np.ones(n, dtype=np.int64)
    mult[rng.choice(n, n_long, replace=False)] = rng.permutation(
        20 + (81 * np.arange(n_long)) // max(n_long, 1))
    rows = []
    for i in range(n):
        lang = "en" if rng.random() < 0.55 else "fr"
        n_words = int(rng.integers(40, 100)) * int(mult[i])
        family = f"head_{lang}" + ("_long" if mult[i] > 1 else "")
        text = _prose(rng, _EN if lang == "en" else _FR, n_words)
        if rng.random() < 0.2:
            pii = _PII[int(rng.integers(0, 2))].format(
                u=f"user{i}", d=int(rng.integers(0, 10000)),
                a=int(rng.integers(0, 256)), b=int(rng.integers(0, 256)))
            text = pii + " . " + text  # inside the scrubbed snippet
        rows.append(_row(rng, "head", seed, i, text, lang, family))
    return _frame(rows)


def cascade_tail(seed: int, n: int) -> pd.DataFrame:
    """Short pages that pass 1 cannot decide: mostly es/de (pass 3),
    bracketed boilerplate around EN/FR (pass 2) and stopword-poor name lists."""
    rng = np.random.default_rng([seed, 2])
    rows = []
    for i in range(n):
        u = rng.random()
        if u < 0.72:
            bank = _ES if rng.random() < 0.5 else _DE
            k = int(rng.integers(1, 3))
            text = " . ".join(bank[int(j)] for j in
                              rng.integers(0, len(bank), k))
            lang, family = "other", "tail_foreign"
        elif u < 0.87:
            lang = "en" if rng.random() < 0.5 else "fr"
            bank = _EN if lang == "en" else _FR
            core = bank[int(rng.integers(0, len(bank)))]
            b = rng.integers(0, len(_BRACKET), 3)
            text = (f"{_BRACKET[b[0]]} {_BRACKET[b[1]]} {core} "
                    f"{_BRACKET[b[2]]}")
            family = "tail_bracketed"
        else:
            k = int(rng.integers(6, 14))
            text = " ".join(_NAMES[int(j)] for j in
                            rng.integers(0, len(_NAMES), k))
            lang, family = "other", "tail_names"
        rows.append(_row(rng, "tail", seed, i, text, lang, family))
    return _frame(rows)


def _row(rng, prefix: str, seed: int, i: int, text: str, lang: str,
         family: str) -> dict:
    return {
        "url": _url(prefix, seed, i),
        "warc_ts": _ts(rng, i),
        "html": TN.wrap_html(text, title=f"{prefix} {i}"),
        "text": text,
        "lang": lang,
        "family": family,
    }


def fixture_delta(seed: int, n: int, k: int) -> pd.DataFrame:
    """File drop ``k`` for the stream layer: the library's own fixture mix,
    with urls made unique across drops."""
    pdf = fixtures.make_corpus(n, seed=seed * 100_003 + k)
    pdf["url"] = pdf["url"] + f"?drop={k}"
    pdf["warc_ts"] = pdf["warc_ts"].dt.tz_localize("UTC")
    return pdf[ARROW_SCHEMA.names]


def write_partitioned(pdf: pd.DataFrame, root: str, files_per_day: int) -> int:
    """Write ``pdf`` as ``root/dt=YYYY-MM-DD/part-NNN.parquet``; returns the
    bytes written."""
    days = pdf["warc_ts"].dt.strftime("%Y-%m-%d")
    total = 0
    for day in sorted(days.unique()):
        part = pdf[days == day]
        d = os.path.join(root, f"dt={day}")
        os.makedirs(d, exist_ok=True)
        for j in range(files_per_day):
            path = os.path.join(d, f"part-{j:03d}.parquet")
            to_parquet(part.iloc[j::files_per_day], path)
            total += os.path.getsize(path)
    return total


def to_parquet(pdf: pd.DataFrame, path: str) -> None:
    pq.write_table(pa.Table.from_pandas(pdf, schema=ARROW_SCHEMA,
                                        preserve_index=False), path)


WORKLOADS = {"crawl_head": crawl_head, "cascade_tail": cascade_tail}
