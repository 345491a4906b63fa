"""Deterministic synthetic web-page corpus (the engine's fixture input).

Generates the Iceberg/parquet-shaped ``documents`` table of BASELINE.json's
``input_hint``::

    documents(url string, warc_ts timestamp, html binary, text string, lang string)

plus the side tables that replace the reference's in-extractor network calls
(balrog JSON, AMON notices, ADS author lookups — FIXTURES.md §5) and an
entity-linking gazetteer.

Properties (FIXTURES.md §1):
* ~10% GCN-kind, ~5% ATel-kind, ~5% arXiv-kind, ~80% filler pages;
* every extractor regex branch of SURVEY.md §2.3 is exercised;
* a HOT event name appears in >20% of mention-bearing docs (skew knob for
  salted canonicalization);
* per-row invariant: ``text == html.decode('ascii', 'replace')`` for every
  row (some GCN docs carry a latin-1 byte to make the replacement visible);
* fully deterministic in (n_docs, seed).

Golden documents at the top reproduce the observable assertions of the
reference's own test suite (/root/reference/tests/test_gcn.py) on synthetic
texts crafted to hit the same extractor paths and values.
"""

from __future__ import annotations

import json
import random
from dataclasses import dataclass
from datetime import datetime, timedelta

import pandas as pd

from literature_to_facts_spark.engine.kinds import (
    ARXIV_URL_PREFIX,
    ATEL_URL_PREFIX,
    GCN_URL_PREFIX,
)

EVENT_NS = "http://odahub.io/ontology/event#"

HOT_GRB = "GRB 220101A"  # skew knob: hot entity


# ---------------------------------------------------------------------------
# document templates
# ---------------------------------------------------------------------------

def gcn_text(
    num: int,
    subject: str,
    date: str,
    body: str,
    from_name: str = "Ann Observer at Example Obs.",
    from_email: str = "ann@example.org",
    authors: str = "A. Observer (Example Obs.),\nB. Collaborator (Other Inst.)",
) -> str:
    """GCN circular per FIXTURES.md §2 (header regexes: facts/gcn.py:215-227,
    submitter facts/gcn.py:570, authors facts/gcn.py:583)."""
    return (
        "TITLE:   GCN CIRCULAR\n"
        f"NUMBER:  {num}\n"
        f"SUBJECT: {subject}\n"
        f"DATE:    {date}\n"
        f"FROM:    {from_name}  <{from_email}>\n"
        "\n"
        f"{authors}\n"
        "\n"
        f"{body}\n"
    )


def atel_text(
    atelid: int,
    title: str,
    authors: str,
    email: str,
    posted: str,
    subjects: str,
    body: str,
) -> str:
    """ATel email form parsed by parse_atel_email (facts/atel.py:74-101)."""
    return (
        "From: telegram@example.org\n"
        f"Subject: ATel {atelid}\n"
        "\n"
        f"ATEL #{atelid}          ATEL #{atelid}\n"
        "\n"
        f"Title: {title}\n"
        f"Author: {authors}\n"
        f"Queries: {email}\n"
        f"Posted: {posted}\n"
        f"Subjects: {subjects}\n"
        "\n"
        f"{body}\n"
        "\n"
        "------------------------------------------------\n"
    )


def arxiv_text(arxiv_id: str, title: str, summary: str, updated: str) -> str:
    """arXiv feed entry as a JSON payload (keys per facts/arxiv.py:88-120)."""
    return json.dumps(
        {
            "id": f"{ARXIV_URL_PREFIX}{arxiv_id}",
            "title": title,
            "summary": summary,
            "updated": updated,
        }
    )


def amon_notice_block(date_ymd: str, time_hms: str, ra: float, dec: float, rev: int = 0) -> str:
    """AMON notice block: 18-char key column (facts/gcn.py:345-373)."""
    lines = [
        ("TITLE:", "GCN/AMON NOTICE"),
        ("NOTICE_TYPE:", "ICECUBE Astrotrack Gold"),
        ("REVISION:", str(rev)),
        ("SRC_RA:", f"{ra}d {{+02h 54m 22s}} (J2000)"),
        ("SRC_DEC:", f"{dec}d {{+22d 34' 48\"}} (J2000)"),
        ("DISCOVERY_DATE:", f"{date_ymd} (yy/mm/dd)"),
        ("DISCOVERY_TIME:", f"{{{time_hms}}} UT"),
    ]
    return "\n".join(f"{k:<18}{v}" for k, v in lines) + "\n"


# ---------------------------------------------------------------------------
# golden documents — observable values mirror /root/reference/tests/test_gcn.py
# ---------------------------------------------------------------------------

GOLDEN_GCNS: dict[int, str] = {}
GOLDEN_ATELS: dict[int, str] = {}
GOLDEN_ARXIV: dict[str, str] = {}


def _add_gcn(num, subject, date, body, **kw):
    GOLDEN_GCNS[num] = gcn_text(num, subject, date, body, **kw)


# test_iul: integral_ul == 4.6e-7 (via integral_ul, facts/gcn.py:454-462)
_add_gcn(
    20249,
    "GRB 161215A: INTEGRAL SPI-ACS observations",
    "16/12/15 18:12:33 GMT",
    "Using INTEGRAL SPI-ACS data we place a 3-sigma\n"
    "upper limit on the 75-2000 keV fluence of 4.6x10^-7 erg/cm^2\n"
    "for a burst lasting less than 1 s.",
)

# test_fermirt: grb_isot == 2020-10-20T17:33:54
_add_gcn(
    28702,
    "GRB 201020B: Fermi GBM Final Real-time Localization",
    "20/10/20 17:44:05 GMT",
    "At 17:33:54 UT on 20 Oct 2020, the Fermi Gamma-ray Burst Monitor (GBM) triggered\n"
    "and located GRB 201020B.",
)

# test_swift (1): grb_isot == 2020-10-17T09:46:31
_add_gcn(
    28666,
    "GRB 201017A: Swift detection of a burst",
    "20/10/17 10:01:21 GMT",
    "At 09:46:31 UT, the Swift Burst Alert Telescope (BAT) triggered and\n"
    "located GRB 201017A (trigger=999999).  The BAT on-board calculated\n"
    "location is consistent with the burst.",
)

# test_swift (2): swift_trigger_id == 1088376
_add_gcn(
    31182,
    "GRB 211207A: Swift detection of a burst",
    "21/12/07 21:17:53 GMT",
    "At 20:59:19 UT, the Swift Burst Alert Telescope (BAT) triggered and\n"
    "located GRB 211207A (trigger=1088376).  Swift slewed immediately.",
)

# test_gbm_v2: grb_isot == 2021-08-01T13:57:18.600000
_add_gcn(
    30585,
    "GRB 210801A: Fermi GBM detection",
    "21/08/01 14:20:11 GMT",
    "At 13:57:18.60 UT on 1 August 2021, the Fermi Gamma-Ray Burst Monitor (GBM)\n"
    "triggered and located GRB 210801A (trigger 649519043).",
)

# test_gbm_coord: grb_isot 2021-11-12T14:34:22; ra/dec/rad strings
_add_gcn(
    31077,
    "GRB 211112A: Fermi GBM detection",
    "21/11/12 15:00:00 GMT",
    "At 14:34:22 UT on 12 Nov 2021, the Fermi Gamma-ray Burst Monitor (GBM) triggered\n"
    "and located GRB 211112A.\n"
    "The on-ground calculated location, using the Fermi GBM trigger data, "
    "is RA = 138.4, Dec = -2.5 (J2000 degrees), with a statistical "
    "uncertainty of 3.0 degrees.",
)

# test_gbm_balrog: via side table (facts/gcn.py:156-174)
_add_gcn(
    30634,
    "GRB 210812A: Fermi GBM observation",
    "21/08/12 17:15:00 GMT",
    "The Fermi GBM team reports the detection of GRB 210812A.\n"
    "The BALROG localization is available at\n"
    "https://grb.mpe.mpg.de/grb/GRB210812699/json .",
)

# test_icecube — AMON path (31126, 31110) and inline path (31085, 30957)
_add_gcn(
    31126,
    "IceCube-211125A - IceCube observation of a high-energy neutrino candidate track-like event",
    "21/11/25 07:21:14 GMT",
    "The IceCube Neutrino Observatory reports a track-like event IceCube-211125A.\n"
    "The AMON notice is available at\n"
    "https://gcn.gsfc.nasa.gov/notices_amon_g_b/136015_21306805.amon\n"
    "Further observations are encouraged.",
)
_add_gcn(
    31110,
    "IceCube-211123A - IceCube observation of a high-energy neutrino candidate track-like event",
    "21/11/23 15:12:44 GMT",
    "The IceCube Neutrino Observatory reports a track-like event IceCube-211123A.\n"
    "The AMON notice is available at\n"
    "https://gcn.gsfc.nasa.gov/notices_amon_g_b/135969_30142501.amon\n"
    "Further observations are encouraged.",
)
_add_gcn(
    31085,
    "IceCube-211116A - IceCube observation of a high-energy neutrino candidate event",
    "21/11/16 11:10:05 GMT",
    "On 2021/11/16 at 10:33:16.05 UT IceCube detected a track-like event\n"
    "with a moderate probability of being of astrophysical origin.\n"
    "RA: 42.45 (J2000)\n"
    "Dec: 0.15 (J2000)\n"
    "The IceCube event IceCube-211116A is of interest.",
)
_add_gcn(
    30957,
    "IceCube-211023A - IceCube observation of a high-energy neutrino candidate event",
    "21/10/23 09:45:59 GMT",
    "On 2021/10/23 at 08:31:18.31 UT IceCube detected a track-like event.\n"
    "RA: 253.3 (J2000)\n"
    "Dec: -1.7199 (J2000)\n"
    "The IceCube event IceCube-211023A is of interest.",
)

# test_icecube_follow_up: mentions_named_event == ['IceCube-211123A']
_add_gcn(
    31120,
    "IceCube-211123A: Upper limits from a search for additional neutrino events in IceCube",
    "21/11/24 02:02:02 GMT",
    "IceCube has performed a search for additional track-like muon neutrino events\n"
    "arriving from the direction of IceCube-211123A.",
)

# test_hawc: grb_isot 2021-11-23T03:52:23.500000; hawc_ra 34.12; hawc_dec -8.05
_add_gcn(
    31106,
    "HAWC-211123A: detection of a burst-like event",
    "21/11/23 05:31:00 GMT",
    "HAWC reports the burst-like event HAWC-211123A.\n"
    "On 11 23, 2021, at 03:52:23.50 UTC, HAWC detected an event at\n"
    "RA(J2000): 34.12 deg\n"
    "Dec(J2000): -8.05 deg\n"
    "with high significance.",
)

# test_afterglow: named grb, afterglow characteristic, 6 sorted cite URIs
_add_gcn(
    31373,
    "GRB 220101A: VLT optical observations",
    "22/01/02 01:02:03 GMT",
    "We observed the field of GRB 220101A (Fynbo et al., GCN Circ. 31347;\n"
    "Tohuvavohu et al., GCN circ 31350; Beardmore et al., GCNC 31351;\n"
    "Fu et al., GCN 31354; de Wet et al., GCN 31360; Perley GCN 31372).\n"
    "The optical afterglow was clearly detected in all bands.",
)

# test_many_named: ['IC211125A', 'IceCube-211125A']
_add_gcn(
    31132,
    "IceCube Alert 211125.81: Optical observations",
    "21/11/26 12:00:00 GMT",
    "We observed the field of the neutrino alert IceCube-211125A\n"
    "(also known as IC211125A) with our telescope.",
)

# test_gcnc_citations: 7 sorted gcn cite URIs
_add_gcn(
    31901,
    "GRB 220403B: optical upper limits",
    "22/04/04 19:19:19 GMT",
    "We refer to earlier reports (GCN 31880, GCN 31881, GCN 31882,\n"
    "GCN 31885, GCN 31887, GCN 31891, GCN 31898) for details.",
)

# LVC family: identification circular + INTEGRAL counterpart search
_add_gcn(
    26221,
    "LIGO/Virgo S191109d: Identification of a GW compact binary merger candidate",
    "19/11/09 02:03:04 GMT",
    "The LIGO Scientific Collaboration and the Virgo Collaboration report\n"
    "the identification of the compact binary merger candidate S191109d\n"
    "during real-time processing of data at 2019-11-09 01:07:17.221 UTC.\n"
    "GW170817-like events are of special interest.",
)
_add_gcn(
    26222,
    "LIGO/Virgo S191109d: INTEGRAL SPI-ACS and IBIS counterpart search",
    "19/11/09 09:10:11 GMT",
    "Using INTEGRAL SPI-ACS and IBIS data we searched for a counterpart of\n"
    "the LIGO/Virgo event S191109d, which occurred at\n"
    "2019-11-09 01:07:17.22 UTC, hereafter T0.\n"
    "We find a limiting fluence of 2.3e-7 erg/cm^2 for a 1 s duration burst.",
    authors="C. Ferrigno (ISDC),\nV. Savchenko (ISDC)",
)

# GRB INTEGRAL circular: integral_grb_report + event_t0 + integral_ul variations
_add_gcn(
    25001,
    "GRB 190829A: INTEGRAL observations",
    "19/08/30 10:11:12 GMT",
    "The INTEGRAL satellite observed GRB 190829A, which triggered at\n"
    "19:55:53 UT on 29 August 2019.\n"
    "We estimate a 3-sigma upper limit of about 1.2e-7 erg/cm^2 for a 1 s duration.",
)
_add_gcn(
    25002,
    "GRB 190829B: INTEGRAL SPI-ACS observations",
    "19/08/30 11:11:12 GMT",
    "INTEGRAL SPI-ACS light curves show no significant detection of GRB 190829B\n"
    "with a fluence limit of 3.1e-7 erg/cm2 for 1 s at the burst time 10:10:10 UT.",
)
_add_gcn(
    25003,
    "GRB 190829C: INTEGRAL upper limits",
    "19/08/30 12:11:12 GMT",
    "For GRB 190829C, which occurred at 11:11:11 UT, the limiting peak flux is\n"
    "~5.0x10^-7 erg/cm^2/s at 1 s time scale.",
)

# swift count=24 quirk pair (facts/gcn.py:181): positive doc (sentence with an
# internal newline inside the first 24 newlines => collapsed => matches) and a
# negative doc (same sentence after the 24th newline => NOT matched).
_add_gcn(
    27771,
    "GRB 200522A: Swift detection of a burst",
    "20/05/22 12:00:00 GMT",
    "At 11:41:34 UT, the Swift Burst Alert Telescope (BAT) triggered\n"
    "and located GRB 200522A (trigger=973628).  Swift slewed immediately\n"
    "to the burst.",
)
_add_gcn(
    27772,
    "GRB 200522B: Swift detection of a burst",
    "20/05/22 13:00:00 GMT",
    ("filler line\n" * 20)
    + "At 12:41:34 UT, the Swift Burst Alert Telescope (BAT) triggered\n"
    "and located GRB 200522B (trigger=973629).  Swift slewed immediately.",
)

# keyword-bug doc: the concatenated 'blazarGW170817' keyword + _times counts
_add_gcn(
    29999,
    "GRB 210101A: multiwavelength context",
    "21/01/01 09:09:09 GMT",
    "The source blazarGW170817 is mentioned here for keyword parity.\n"
    "IceCube and IceCube again: IceCube. HAWC too, and HAWC.\n"
    "Note that blazar alone and GW170817 alone must NOT count.\n"
    "GW190425 appears once.",
)

GOLDEN_BALROG = pd.DataFrame(
    [
        {
            "url_json": "https://grb.mpe.mpg.de/grb/GRB210812699/json",
            "grb_isot": "2021-08-12T16:47:01.010000Z",
            "gbm_trigger_id": 650479626,
            "balrog_ra": 296.1,
            "balrog_ra_err": 2.5,
            "balrog_dec": 60.9,
            "balrog_dec_err": 1.8,
        }
    ]
)

GOLDEN_AMON = pd.DataFrame(
    [
        {
            "url": "https://gcn.gsfc.nasa.gov/notices_amon_g_b/136015_21306805.amon",
            "notice_text": amon_notice_block("21/11/25", "06:22:21.55", 43.59, 22.5899),
        },
        {
            "url": "https://gcn.gsfc.nasa.gov/notices_amon_g_b/135969_30142501.amon",
            "notice_text": amon_notice_block("21/11/23", "14:25:22.60", 265.5199, 7.33),
        },
    ]
)

GOLDEN_ADS = pd.DataFrame(
    [
        {
            "subject": "LIGO/Virgo S191109d: INTEGRAL SPI-ACS and IBIS counterpart search",
            "gcn_authors": "C. Ferrigno; V. Savchenko; INTEGRAL multimessenger team",
        }
    ]
)

# test_atel_long_frb_name / test_atel_pks / test_atel_2sources
GOLDEN_ATELS[15055] = atel_text(
    15055,
    "FRB 20211122A: repeating radio bursts detected",
    "R. Adio (Radio Obs.); S. Omeone (Other Obs.)",
    "radio@example.org",
    "22 Nov 2021; 11:30 UT",
    "Radio, Fast Radio Bursts",
    "We report detection of repeated bursts from FRB 20211122A with our\n"
    "radio telescope array.",
)
GOLDEN_ATELS[15058] = atel_text(
    15058,
    "PKS 0903-57: continued gamma-ray activity",
    "G. Amma (Gamma Obs.); T. Eam (Team Obs.)",
    "gamma@example.org",
    "24 Nov 2021; 08:15 UT",
    "Gamma Ray, Blazar",
    "The blazar PKS 0903-57 continues to show strong activity in our\n"
    "monitoring data.",
)
GOLDEN_ATELS[15100] = atel_text(
    15100,
    "IceCube-211208A: optical counterpart candidates of the neutrino event",
    "O. Ptical (Optical Obs.); P. Hotometry (Survey)",
    "optical@example.org",
    "8 Dec 2021; 23:20 UT",
    "AGN, Blazar, Neutrinos, Optical, Request for Observations",
    "Following the detection of IceCube-211208A (see ATel #15098 and\n"
    "ATel #15099), we observed the blazar PKS 0735+17, which lies inside\n"
    "the 90% error region, cf. also IceCube-2112108A in GCN 31191 and the\n"
    "historical event IceCube-170922A.",
)

GOLDEN_ARXIV["2201.01234v1"] = arxiv_text(
    "2201.01234v1",
    "GRB prompt emission models",
    "We review GRB prompt emission and the implications of GW170817 for\nGRB jets. GRB afterglows are discussed.",
    "2022-01-05T10:00:00Z",
)


# ---------------------------------------------------------------------------
# corpus assembly
# ---------------------------------------------------------------------------

@dataclass
class Corpus:
    documents: pd.DataFrame
    balrog: pd.DataFrame
    amon_notices: pd.DataFrame
    ads_authors: pd.DataFrame
    gazetteer: pd.DataFrame


_FILLER_VOCAB = (
    "the quick brown fox jumps over a lazy dog while reading pages about "
    "weather cooking gardens music travel history science art sports markets"
).split()


def _filler_text(rng: random.Random, i: int) -> str:
    n = 30 + rng.randrange(120)
    words = [_FILLER_VOCAB[rng.randrange(len(_FILLER_VOCAB))] for _ in range(n)]
    return f"page {i}: " + " ".join(words)


def _grb_name(rng: random.Random) -> str:
    y, m, d = rng.randrange(19, 23), rng.randrange(1, 13), rng.randrange(1, 29)
    return f"GRB {y:02d}{m:02d}{d:02d}{rng.choice('ABC')}"


def _ic_name(rng: random.Random) -> str:
    y, m, d = rng.randrange(19, 23), rng.randrange(1, 13), rng.randrange(1, 29)
    return f"IceCube-{y:02d}{m:02d}{d:02d}A"


def _gcn_date(rng: random.Random) -> str:
    y, m, d = rng.randrange(19, 23), rng.randrange(1, 13), rng.randrange(1, 29)
    return f"{y:02d}/{m:02d}/{d:02d} {rng.randrange(24):02d}:{rng.randrange(60):02d}:{rng.randrange(60):02d} GMT"


def _random_gcn(rng: random.Random, num: int, hot: bool) -> str:
    """Rotate through extractor families; `hot` pins the hot skew entity."""
    name = HOT_GRB if hot else _grb_name(rng)
    digits = name.replace("GRB ", "")[:6]
    fam = rng.randrange(6)
    if fam == 0:  # fermi realtime + coords
        hh, mm, ss = rng.randrange(24), rng.randrange(60), rng.randrange(60)
        body = (
            f"At {hh:02d}:{mm:02d}:{ss:02d} UT on 15 Mar 2021, the Fermi Gamma-ray Burst Monitor (GBM) triggered\n"
            f"and located {name}.\n"
            "The on-ground calculated location, using the Fermi GBM trigger data, "
            f"is RA = {rng.randrange(3600)/10.0}, Dec = {rng.randrange(-890, 890)/10.0} (J2000 degrees), with a statistical "
            f"uncertainty of {rng.randrange(10, 60)/10.0} degrees."
        )
        return gcn_text(num, f"{name}: Fermi GBM detection", _gcn_date(rng), body)
    if fam == 1:  # swift
        hh, mm, ss = rng.randrange(24), rng.randrange(60), rng.randrange(60)
        d6 = digits
        body = (
            f"At {hh:02d}:{mm:02d}:{ss:02d} UT, the Swift Burst Alert Telescope (BAT) triggered and\n"
            f"located GRB {d6}A (trigger={900000 + rng.randrange(99999)}).  Swift slewed immediately."
        )
        return gcn_text(num, f"GRB {d6}A: Swift detection of a burst", _gcn_date(rng), body)
    if fam == 2:  # integral GRB + upper limit
        body = (
            f"The INTEGRAL satellite observed {name}, which triggered at\n"
            f"{rng.randrange(24):02d}:{rng.randrange(60):02d}:{rng.randrange(60):02d} UT.\n"
            f"We place a 3-sigma upper limit on the 75-2000 keV fluence of "
            f"{rng.randrange(1, 99)/10.0}x10^-7 erg/cm^2 for a 1 s burst."
        )
        return gcn_text(num, f"{name}: INTEGRAL observations", _gcn_date(rng), body)
    if fam == 3:  # icecube inline
        ic = _ic_name(rng)
        y2, m2, d2 = 2000 + rng.randrange(19, 23), rng.randrange(1, 13), rng.randrange(1, 29)
        body = (
            f"On {y2:04d}/{m2:02d}/{d2:02d} at {rng.randrange(24):02d}:{rng.randrange(60):02d}:"
            f"{rng.randrange(60):02d}.{rng.randrange(10, 99)} UT IceCube detected a track-like event.\n"
            f"RA: {rng.randrange(3600)/10.0} (J2000)\n"
            f"Dec: {rng.randrange(-890, 890)/10.0} (J2000)\n"
            f"The IceCube event {ic} is of interest."
        )
        return gcn_text(
            num, f"{ic} - IceCube observation of a high-energy neutrino candidate event",
            _gcn_date(rng), body,
        )
    if fam == 4:  # afterglow + cites (hot entity heavy)
        base = 30000 + rng.randrange(2000)
        body = (
            f"We observed the field of {name} (GCN Circ. {base}; GCN {base + 1};\n"
            f"GCNC {base + 2}; see also ATel #{14000 + rng.randrange(999)}).\n"
            "The optical afterglow was clearly detected."
        )
        return gcn_text(num, f"{name}: optical afterglow observations", _gcn_date(rng), body)
    # fam == 5: boring GCN — no mentions => dropped by the valuable filter
    return gcn_text(
        num, "Conference announcement: data analysis school", _gcn_date(rng),
        "A school on data analysis will be held next spring. Registration is open.",
    )


def _random_atel(rng: random.Random, atelid: int, hot: bool) -> str:
    name = HOT_GRB if hot else _ic_name(rng)
    return atel_text(
        atelid,
        f"{name}: follow-up observations",
        "F. Irst (Obs.); S. Econd (Obs.)",
        "queries@example.org",
        f"{rng.randrange(1, 28)} {rng.choice(['Jan', 'Feb', 'Mar', 'Apr', 'Nov', 'Dec'])} "
        f"{2020 + rng.randrange(3)}; {rng.randrange(24):02d}:{rng.randrange(60):02d} UT",
        rng.choice(["Optical, Transient", "AGN, Blazar, Neutrinos", "Gamma Ray, Request for Observations"]),
        f"We report follow-up observations of {name} (see ATel #{14000 + rng.randrange(999)}\n"
        f"and GCN {29000 + rng.randrange(2000)}). The source shows variability.",
    )


def _random_arxiv(rng: random.Random, k: int, hot: bool) -> tuple[str, str]:
    name = HOT_GRB if hot else _grb_name(rng)
    arxiv_id = f"{2000 + rng.randrange(24):04d}.{10000 + k:05d}v{rng.randrange(1, 3)}"
    title = f"Multiwavelength study of {name}"
    summary = (
        f"We study {name} using GRB afterglow models. "
        + rng.choice(["GW170817 is used as a template. ", "SGR flares are compared. ", ""])
        + "Implications for magnetar central engines are discussed."
    )
    updated = (
        f"{2020 + rng.randrange(3)}-{rng.randrange(1, 13):02d}-{rng.randrange(1, 29):02d}"
        f"T{rng.randrange(24):02d}:{rng.randrange(60):02d}:{rng.randrange(60):02d}Z"
    )
    return arxiv_id, arxiv_text(arxiv_id, title, summary, updated)


def build_bench_documents(
    n_docs: int, seed: int = 42, base_size: int = 10000
) -> pd.DataFrame:
    """Large extraction-dense documents table for throughput benchmarks.

    Generates a dense base corpus (no filler — filler is pruned before
    extraction by the url-prefix scan filter, so it only pads scan time) and
    replicates it with vectorized id-uniquification (distinct NUMBER/ATEL
    ids per copy so subjects stay unique and dedup doesn't collapse work).
    The html/text ascii invariant is NOT maintained for replicas (bench-only
    table; the pipeline reads url+text).
    """
    base = build_corpus(
        n_docs=min(n_docs, base_size), seed=seed, include_golden=True, dense=True
    ).documents
    copies = max(1, -(-n_docs // len(base)))
    frames = [base]
    for k in range(1, copies):
        d = base[["url", "warc_ts", "text", "lang"]].copy()
        d["url"] = d["url"] + f"&copy={k}"
        d["text"] = (
            d["text"]
            .str.replace("NUMBER:  ", f"NUMBER:  {k}", regex=False)
            .str.replace("ATEL #", f"ATEL #{k}", regex=False)
            .str.replace('"id": "http://arxiv.org/abs/', f'"id": "http://arxiv.org/abs/{k}x', regex=False)
        )
        d["html"] = d["text"].str.encode("utf-8")
        frames.append(d[["url", "warc_ts", "html", "text", "lang"]])
    out = pd.concat(frames, ignore_index=True).iloc[:n_docs].copy()
    out["warc_ts"] = out["warc_ts"].astype("datetime64[us]")
    return out


def build_corpus(
    n_docs: int = 400,
    seed: int = 42,
    include_golden: bool = True,
    dense: bool = False,
) -> Corpus:
    rng = random.Random(seed)
    rows: list[dict] = []
    base_ts = datetime(2024, 1, 1)

    def add(url: str, text: str, lang: str = "en", inject_nonascii: bool = False):
        raw = text
        if inject_nonascii:
            raw = raw.replace("Observer", "Obsérver", 1)
        html = raw.encode("latin-1", "replace")
        rows.append(
            {
                "url": url,
                "warc_ts": base_ts + timedelta(seconds=137 * len(rows)),
                "html": html,
                # the per-row invariant: text IS the ascii-replace decode
                "text": html.decode("ascii", "replace"),
                "lang": lang,
            }
        )

    if include_golden:
        for num, text in GOLDEN_GCNS.items():
            add(f"{GCN_URL_PREFIX}{num}.gcn3", text)
        for atelid, text in GOLDEN_ATELS.items():
            add(f"{ATEL_URL_PREFIX}{atelid}", text)
        for arxiv_id, text in GOLDEN_ARXIV.items():
            add(f"{ARXIV_URL_PREFIX}{arxiv_id}", text)

    gcn_num, atel_num = 40000, 16000
    for i in range(n_docs):
        # default mix: ~10% GCN / 5% ATel / 5% arXiv / 80% filler pages;
        # dense mode (benchmarks): 50% GCN / 25% ATel / 25% arXiv, no filler
        slot = (i % 4) if dense else (i % 20)
        hot = rng.random() < 0.25
        if slot in (0, 1):
            gcn_num += 1
            add(f"{GCN_URL_PREFIX}{gcn_num}.gcn3", _random_gcn(rng, gcn_num, hot),
                inject_nonascii=(i % 6 == 0))
        elif slot == 2:
            atel_num += 1
            add(f"{ATEL_URL_PREFIX}{atel_num}", _random_atel(rng, atel_num, hot))
        elif slot == 3:
            arxiv_id, text = _random_arxiv(rng, i, hot)
            add(f"{ARXIV_URL_PREFIX}{arxiv_id}", text)
        else:
            lang = "en" if rng.random() < 0.85 else rng.choice(["de", "fr", "es"])
            add(f"https://example.org/page/{i}", _filler_text(rng, i), lang=lang)

    documents = pd.DataFrame(rows)

    # gazetteer: canonical URIs for the named-event vocabulary incl. aliases
    gaz_rows = []
    seen = set()

    def gaz(mention: str, canonical: str, etype: str):
        if mention not in seen:
            seen.add(mention)
            gaz_rows.append(
                {"mention": mention, "canonical_uri": EVENT_NS + canonical, "entity_type": etype}
            )

    gaz("GRB220101A", "GRB220101A", "grb")
    gaz("IceCube-211125A", "IceCube-211125A", "neutrino")
    gaz("IC211125A", "IceCube-211125A", "neutrino")  # alias -> same canonical
    gaz("IceCube-211123A", "IceCube-211123A", "neutrino")
    gaz("HAWC-211123A", "HAWC-211123A", "gamma")
    gaz("FRB20211122A", "FRB20211122A", "frb")
    gaz("PKS0903-57", "PKS0903-57", "blazar")
    gaz("PKS0735+17", "PKS0735+17", "blazar")
    gaz("AT2022cmc", "AT2022cmc", "tde")
    for y in range(19, 23):
        for m in range(1, 13):
            for d in range(1, 29):
                for suf in "ABC":
                    gaz(f"GRB {y:02d}{m:02d}{d:02d}{suf}".replace("GRB ", "GRB"),
                        f"GRB{y:02d}{m:02d}{d:02d}{suf}", "grb")
                gaz(f"IceCube-{y:02d}{m:02d}{d:02d}A", f"IceCube-{y:02d}{m:02d}{d:02d}A", "neutrino")

    return Corpus(
        documents=documents,
        balrog=GOLDEN_BALROG.copy(),
        amon_notices=GOLDEN_AMON.copy(),
        ads_authors=GOLDEN_ADS.copy(),
        gazetteer=pd.DataFrame(gaz_rows),
    )
