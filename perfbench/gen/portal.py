"""Seeded generator of a GOOS BioEco portal input bundle.

Writes the files `LoadPortal`/`SpatialExport` read (same names, columns
and edge cases as the reference data; see FIXTURES.md), the DB/API seed
files for the benchmark's JDBC target and API fake, and `expected.json`:
the outcome the pipeline must produce, derived here from how the bundle
was built (never by running the program).

    python3 perfbench/gen/portal.py --scale ref --seed 1 --out DIR

The seed drives the values (which names collide, which rows carry null
or junk geometry, years, frequencies); the counts per scale are fixed.
"""
import argparse
import csv
import io
import json
import os
import random
import re
import unicodedata

if __package__ in (None, ""):
    import sys
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import formats
else:
    from . import formats

SURVEY2 = "2InfoDataProviderswoSpatialInfo_Final_420_7302020_FINAL_toshare.csv"
SURVEY4 = "4Updated_Spatial_Survey_420_8132020_FINAL_toshare.csv"

SITE_CSVS = [  # (dataset name, file, lon column, lat column) as in SpatialExport
    ("Aleutian Islands Benthic Habitat Survey", "Aleutian Islands Benthic Habitat Survey.csv", "Longitude", "Latitude"),
    ("Australian continuous plankton recorder survey (AusCPR)", "Australian continuous plankton recorder survey (AusCPR).csv", "MID_LONGITUDE", "MID_LATITUDE"),
    ("Cetacean Research Program", "Cetacean Research Program.csv", "Longitude", "Latitude"),
    ("Diversity of the Indo-Pacific Network", "Diversity of the Indo-Pacific Network.csv", "Longitude", "Latitude"),
    ("eOceans", "eOceans.csv", "Longitude", "Latitude"),
    ("Estacion Costera de Investigaciones Marinas", "Estacion Costera de Investigaciones Marinas.csv", "Longitude", "Latitude"),
    ("Estación de Fotobiologia Playa Unión", "Estacion de Fotobiologia Playa Union.csv", "Longitude", "Latitude"),
    ("Global ARMS Program", "Global ARMS Program.csv", "Longitude", "Latitude"),
    ("IMOS ships of opportunity bioacoustics", "IMOS ships of opportunity bioacoustics.csv", "Longitude", "Latitude"),
    ("Marine Biodiversity and Climate Change", "Marine Biodiversity and Climate Change.csv", "Longitude", "Latitude"),
    ("Movebank", "Movebank.csv", "Longitude", "Latitude"),
    ("National Observatory System: Mammals as Ocean Samplers", "National Observatory System- Mammals as Ocean Samplers.csv", "Longitude", "Latitude"),
    ("Ocean Tracking Network", "Ocean Tracking Network.csv", "Longitude", "Latitude"),
    ("Reef Life Survey", "Reef Life Survey.csv", "Longitude", "Latitude"),
    ("SCAR Southern Ocean Continuous Plankton Recorder Survey", "SCAR Southern Ocean Continuous Plankton Recorder Survey.csv", "Longitude", "Latitude"),
    ("Service National d'Observation CORAIL", "Service National d_Observation CORAIL.csv", "Longitude", "Latitude"),
    ("Synoptic Intertidal Benthic Survey", "Synoptic Intertidal Benthic Survey.csv", "Longitude", "Latitude"),
    ("Tohoku National Fisheries Institute", "Tohoku National Fisheries Institute.csv", "Longitude", "Latitude"),
    ("Waddenmozaiek program", "Waddenmozaiek program.csv", "Longitude", "Latitude"),
    ("Zooplankton Sample Collectionof Fisheries Research Agency", "Zooplankton Sample Collectionof Fisheries Research Agency.csv", "Longitude", "Latitude"),
]
# relative weight of each site CSV in the total row count
SITE_WEIGHTS = [3, 12, 2, 4, 6, 1, 1, 3, 5, 4, 9, 6, 8, 18, 5, 2, 4, 2, 3, 2]

IMMA = ("IUCN Marine Mammal Protected Areas Task Force",
        "eurosea_spatial/iucn-imma-layer-shapefile_v2.4/iucn-imma-fixed/iucn-imma_oct20-fixed")
FIN_DIR = "eurosea_spatial/Finland/Finland biological monitoring stations/"
FINLAND = [
    ("Marine breeding birds", "Breeding_seabirds"),
    ("Coastal waters soft bottom fauna", "Coastal_benthic_invertebrates"),
    ("Abundance and distribution of harbour porpoises", "Harbour_porpoise_detectors"),
    ("Coastal hard bottom macroalgae and blue mussel communities", "Macroalgae"),
    ("Offshore soft bottom macrozoobenthos", "Offshore_benthic_invertebrates"),
    ("Phytoplankton species composition and abundance", "Phytoplankton"),
    ("Sea trout", "Seatrout_rivers"),
    ("Zooplankton species composition and abundance", "Zooplankton"),
]
WINDFARM = ("Ecological impact monitoring offshore windfarms",
            "eurosea_spatial/Ecological impact monitoring offshore windfarms")
SPAIN = ("Basque monitoring network for the ecological status assessment",
         "eurosea_spatial/Spain/Basque monitoring network for the ecological status assessment.tsv")
WESPAS = ("Western European Shelf Pelagic Acoustic Survey (WESPAS)",
          "eurosea_spatial/WESPAS 2020_Positions.xlsx")

# survey-4 EOV marker columns → eov_* flag (LoadPortal.initial)
S4_EOVS = [("eov_birds", "Birds"), ("eov_hardcoral", "Hard_Coral"), ("eov_fish", "Fish"),
           ("eov_macroalgae", "Macroalgae"), ("eov_mangroves", "Mangroves"),
           ("eov_microbes", "Microbes"), ("eov_oceansound", "Ocean_Sound"),
           ("eov_phytoplankton", "Phytoplankton"), ("eov_seagrass", "Seagrass"),
           ("eov_seaturtles", "Sea_Turtles"), ("eov_zooplankton", "Zooplankton"),
           ("eov_benthicinvertebrates", "Benthic_Invertebrate"), ("eov_mammals", "Marine_Mammals")]
# EuroSea EOV header → eov_* flag (LoadPortal.euroseaRaw)
EURO_EOVS = [("eov_microbes", "Microbes"), ("eov_phytoplankton", "Phytoplankton"),
             ("eov_zooplankton", "Zooplankton"), ("eov_benthicinvertebrates", "Benthic invertebrates"),
             ("eov_fish", "Fish"), ("eov_seaturtles", "Turtles"), ("eov_birds", "Birds"),
             ("eov_mammals", "Mammals"), ("eov_hardcoral", "Hard coral"), ("eov_seagrass", "Seagrass"),
             ("eov_macroalgae", "Macroalgae"), ("eov_mangroves", "Mangrove")]
# link-table EOV ids (Recodes.eovFlagColumns) and the goos_eov dimension
LINK_EOVS = {"eov_phytoplankton": 1, "eov_zooplankton": 2, "eov_fish": 3, "eov_seaturtles": 4,
             "eov_birds": 5, "eov_mammals": 6, "eov_hardcoral": 7, "eov_seagrass": 8,
             "eov_macroalgae": 9, "eov_mangroves": 10, "eov_microbes": 11,
             "eov_benthicinvertebrates": 12}
EOV_SHORT = ["Phytoplankton", "Zooplankton", "Fish", "Turtles", "Birds", "Mammals",
             "Hard coral", "Seagrass", "Macroalgae", "Mangrove", "Microbes", "Invertebrates"]

IN_OBIS = [
    "No; none of the biological data collected by the network is included in OBIS",
    "Yes; less than half of the biological data collected by the network is included in OBIS",
    "Yes; all of the biological data collected by the network is included in OBIS",
    "Yes; more than half but not all of the biological data collected by the network is included in OBIS",
]
IN_OBIS_NULL = "I don't know if the biological data collected by the network is included in OBIS"
FREQ4 = ["Sub-daily", "Daily", "Monthly (12x per year)", "Quarterly (4x per year)", "2x per year",
         "1x per year", "1x every 2 to 5 years", "1x every 6-10 years", "1x every >10 years",
         "Opportunistically/highly irregular intervals", "Whenever funding allows"]
FREQ_EURO = ["2 x a week since 2005", "Annual (Sept)", "Annual", "Monthly", "Daily", "Quarterly",
             "Spring/Summer", "Once in 3 years", "2x per year", "Continually", "every blue moon"]

SCALES = {
    # the reference's own counts (BASELINE.md)
    "ref": dict(survey4=371, s4_dup=6, punct=4, cross=5, s2_extra=40, euro_rows=367,
                euro_blank=3, euro_groups=256, euro_same_name=3, site_rows=55876, imma=159,
                finland=[136, 42, 18, 60, 33, 25, 12, 48], windfarm_poly=[1, 1, 2, 1],
                spain=60, wespas=400, links=1440, roles=200, api_unknown=12, filler_cols=40),
}

WORDS = ("Atlantic Pacific Arctic Baltic Coastal Pelagic Benthic Reef Kelp Seabird Plankton "
         "Cetacean Turtle Fisheries Mangrove Seagrass Estuary Shelf Deep Abyssal Harbour Lagoon "
         "Tidal Sound Bay Gulf Island Strait Current Upwelling Monitoring Survey Programme "
         "Observatory Network Census Assessment Transect Station Mooring Acoustic Biomass "
         "Diversity Abundance Distribution Recruitment Spawning Larval Juvenile Migration Northern "
         "Southern Eastern Western Central Regional National Long-term Integrated Continuous "
         "Seasonal Annual Research Initiative").split()
ORGS = ("IFREMER AZTI CEFAS IMR HCMR SYKE ICES NIOZ DTU-Aqua Marine-Institute IEO CNR OGS "
        "IPMA SAMS GEOMAR Thuenen ILVO RBINS SMHI").split()
FIRST = "Ana Ben Chloe Dara Eli Fatima Gus Hana Ivo Jun Kai Lea Mo Nia Omar Pia Quin Rui Sara Tao".split()
LAST = "Silva Berg Okafor Tanaka Novak Costa Muller Haddad Larsen Ito Kowalski Rossi".split()


# ------------------------------------------------- program semantics model

_PUNCT = re.compile(r"[()\":',&/.;]")
_WS = re.compile("[ \t\n\x0b\f\r\\-–—]+")


def make_identifier(name):
    """Python port of the reference's make_identifier (index.Rmd:353-371)."""
    if name is None:
        return None
    s = _PUNCT.sub("", name.lower())
    s = s.strip("".join(chr(c) for c in range(0x21)))
    s = _WS.sub("_", s)
    s = unicodedata.normalize("NFD", s)
    s = "".join(ch for ch in s if not unicodedata.category(ch).startswith("M"))
    s = "".join(ch for ch in s if ord(ch) < 128)
    s = _PUNCT.sub("", s)
    return s[:29] + s[-29:] if len(s) > 58 else s


def geojson_feature_count(doc):
    """(n features, written?) for one geometry_geojson cell, as
    SpatialExport step 1 decides (single geometry type only)."""
    if doc is None or doc.strip() in ("", "null"):
        return 0, False
    try:
        v = json.loads(doc)
    except ValueError:
        return 0, False
    if not isinstance(v, dict):
        return 0, False
    if v.get("type") == "FeatureCollection":
        geoms = [f["geometry"] for f in v.get("features", []) if isinstance(f, dict) and "geometry" in f]
    elif v.get("type") == "Feature":
        geoms = [v["geometry"]]
    else:
        geoms = [v]
    types = [g["type"] for g in geoms if isinstance(g, dict) and "type" in g and "coordinates" in g]
    return len(types), len(types) > 0 and len(set(types)) == 1


# ------------------------------------------------------------ generation

class Gen:
    def __init__(self, scale, seed):
        self.p = SCALES[scale]
        self.scale = scale
        self.seed = seed
        self.r = random.Random(f"{scale}:{seed}")
        self.used_idents = set()
        for name in ([s[0] for s in SITE_CSVS] + [IMMA[0]] + [f[0] for f in FINLAND]
                     + [WINDFARM[0], SPAIN[0], WESPAS[0]]):
            self.used_idents.add(make_identifier(name))

    def fresh_name(self):
        while True:
            n = self.r.randint(3, 7)
            name = " ".join(self.r.choice(WORDS) for _ in range(n))
            if self.r.random() < 0.15:
                name += f" ({''.join(w[0] for w in name.split())[:5].upper()})"
            ident = make_identifier(name)
            if ident not in self.used_idents and not re.search(r"_\d+$", ident):
                self.used_idents.add(ident)
                return name

    def punct_variant(self, name):
        """A different spelling with the same identifier."""
        words = name.split(" ")
        i = self.r.randrange(len(words))
        choice = self.r.randrange(3)
        if choice == 0 and len(words) > 1:
            return " ".join(words[:i]) + (" " if i else "") + "-".join(words[i:i + 2]) + \
                   ("" if i + 2 >= len(words) else " " + " ".join(words[i + 2:]))
        if choice == 1:
            return name.upper()
        return name + "."

    def text(self, lo, hi, newline_p=0.0):
        words = [self.r.choice(WORDS).lower() for _ in range(self.r.randint(lo, hi))]
        out = []
        for w in words:
            out.append(w)
            if self.r.random() < newline_p:
                out.append("\n")
            elif self.r.random() < 0.03:
                out.append('"quoted"')
        return " ".join(out).replace(" \n ", "\n")

    def coord(self):
        return round(self.r.uniform(-60, 70), 4), round(self.r.uniform(-170, 170), 4)


def generate(out, scale, seed):
    g = Gen(scale, seed)
    p, r = g.p, g.r
    os.makedirs(out, exist_ok=True)
    counts = {"csv": 0, "xlsx": 0, "shp": 0, "tsv": 0}

    # ---------------- survey 4 (one record per dataset, file order = id order)
    site_names = [s[0] for s in SITE_CSVS]
    base = [g.fresh_name() for _ in range(p["survey4"] - len(site_names) - p["s4_dup"] - 1 - p["punct"])]
    s4_names = base + site_names
    r.shuffle(s4_names)
    extra = [r.choice(base) for _ in range(p["s4_dup"])]   # exact repeats of a name
    # a site dataset twice (J6: one CSV feeds two outputs); always the same
    # one, so the output volume does not depend on the seed
    extra.append(SITE_CSVS[2][0])
    extra += [g.punct_variant(r.choice(base)) for _ in range(p["punct"])]  # same identifier
    for name in extra:
        s4_names.insert(r.randrange(len(s4_names) + 1), name)
    assert len(s4_names) == p["survey4"]

    s4_rows = []
    for name in s4_names:
        rec = {"prog_name": name,
               "prog_abbrev": "".join(w[0] for w in name.split())[:6],
               "prog_url": f"https://example.org/{make_identifier(name)}" + ("/x" * r.randint(0, 120) if r.random() < 0.05 else ""),
               "duration_start_year": r.choice(["1979", "1995", "2004", "2015", "", "ongoing"]),
               "duration_end_year": r.choice(["2020", "2021", "", "present"]),
               "freq_interval": r.choice(FREQ4 + [""]),
               "In_OBIS": r.choice(IN_OBIS + [IN_OBIS_NULL, "", "Not sure"]),
               "Interest_OBIS": r.choice(["Yes", "No", ""]),
               "eov": {col: (r.random() < 0.25) for _, col in S4_EOVS}}
        s4_rows.append(rec)
    filler = [f"Q{i}" for i in range(p["filler_cols"])]
    header4 = (["ResponseId", "prog_name", "prog_abbrev", "prog_url", "duration_start_year",
                "duration_end_year", "freq_interval", "In_OBIS", "Interest_OBIS"]
               + [c for _, c in S4_EOVS] + filler)
    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\n", quoting=csv.QUOTE_MINIMAL)
    w.writerow(header4)
    for i, rec in enumerate(s4_rows):
        w.writerow([f"R_{i:05d}", rec["prog_name"], rec["prog_abbrev"], rec["prog_url"],
                    rec["duration_start_year"], rec["duration_end_year"], rec["freq_interval"],
                    rec["In_OBIS"], rec["Interest_OBIS"]]
                   + [col if rec["eov"][col] else "" for _, col in S4_EOVS]
                   + [g.text(0, 25, newline_p=0.08) if r.random() < 0.4 else "" for _ in filler])
    with open(os.path.join(out, SURVEY4), "w", encoding="utf-8", newline="") as f:
        f.write(buf.getvalue())
    counts["csv"] += len(s4_rows)

    # ---------------- survey 2 (spatial GeoJSON + contacts, joined on name)
    def geojson_doc():
        kind = r.choices(["point", "mpoly", "poly", "fc_lines", "fc_mixed", "null", "empty", "junk"],
                         [30, 15, 10, 10, 5, 10, 15, 5])[0]
        lat, lon = g.coord()
        sq = [[lon, lat], [lon, lat + 1], [lon + 1, lat + 1], [lon + 1, lat], [lon, lat]]
        if kind == "point":
            return json.dumps({"type": "Point", "coordinates": [lon, lat]})
        if kind == "mpoly":
            sq2 = [[x + 3, y] for x, y in sq]
            return json.dumps({"type": "MultiPolygon", "coordinates": [[sq], [sq2]]})
        if kind == "poly":
            return json.dumps({"type": "Polygon", "coordinates": [sq]})
        if kind == "fc_lines":
            feats = [{"type": "Feature", "properties": {},
                      "geometry": {"type": "LineString", "coordinates": [[lon, lat], [lon + k + 1, lat + 1]]}}
                     for k in range(r.randint(1, 4))]
            return json.dumps({"type": "FeatureCollection", "features": feats})
        if kind == "fc_mixed":
            return json.dumps({"type": "FeatureCollection", "features": [
                {"type": "Feature", "properties": {}, "geometry": {"type": "Point", "coordinates": [lon, lat]}},
                {"type": "Feature", "properties": {},
                 "geometry": {"type": "LineString", "coordinates": [[lon, lat], [lon + 1, lat + 1]]}}]})
        if kind == "null":
            return "null"
        if kind == "empty":
            return ""
        return "{not geojson"

    emails = [f"{r.choice(FIRST).lower()}.{r.choice(LAST).lower()}{k}@example.org" for k in range(int(p["survey4"] * 0.5))]
    distinct_s4 = list(dict.fromkeys(s4_names))
    matched = [n for n in distinct_s4 if r.random() < 0.7]
    s2_rows = []
    for name in matched + [g.fresh_name() for _ in range(p["s2_extra"])]:
        # site datasets carry no GeoJSON: a written one would replace the
        # site CSV's features and make the output volume seed-dependent
        doc = "" if name in site_names else geojson_doc()
        s2_rows.append({"ErinSpatialGeoJSON": doc, "prog_name": name,
                        "resp_firstname": r.choice(FIRST), "resp_lastname": r.choice(LAST),
                        "resp_email": r.choice(emails) if r.random() < 0.9 else ""})
    r.shuffle(s2_rows)
    # exact duplicate row (fan-out 2); never a site dataset's, whose features
    # would then be written twice and make the output volume seed-dependent
    dup = dict(r.choice([x for x in s2_rows if x["prog_name"] in set(matched) and x["prog_name"] not in site_names]))
    s2_rows.insert(r.randrange(len(s2_rows) + 1), dup)
    header2 = ["", "ErinSpatialGeoJSON", "prog_name", "resp_firstname", "resp_lastname",
               "resp_email"] + [f"X{i}" for i in range(20)]
    with open(os.path.join(out, SURVEY2), "w", encoding="utf-8", newline="") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(header2)
        for i, row in enumerate(s2_rows):
            w.writerow([str(i + 1)] + [row[c] for c in header2[1:6]] + [g.text(0, 4) for _ in range(20)])
    counts["csv"] += len(s2_rows)

    # ---------------- EuroSea.xlsx (rows merge by (Organisation, Program name))
    reg_euro = [IMMA[0]] + [f[0] for f in FINLAND] + [WINDFARM[0], SPAIN[0], WESPAS[0]]
    groups = [(r.choice(ORGS), n) for n in reg_euro]
    n_plain = p["euro_groups"] - len(groups) - p["cross"] - p["euro_same_name"]
    for _ in range(n_plain):
        groups.append((None if r.random() < 0.08 else r.choice(ORGS), g.fresh_name()))
    plain = groups[len(reg_euro):]
    taken = set(groups)

    def add_group(make):
        while True:
            gr = make()
            if gr not in taken:
                taken.add(gr)
                groups.append(gr)
                return

    for _ in range(p["cross"]):          # same name as a survey-4 dataset
        add_group(lambda: (r.choice(ORGS), r.choice(base)))
    for _ in range(p["euro_same_name"]):  # same name, another organisation
        add_group(lambda: (r.choice(ORGS), r.choice(plain)[1]))
    assert len(set(groups)) == len(groups) == p["euro_groups"]
    sizes = [1] * len(groups)
    for _ in range(p["euro_rows"] - len(groups)):
        sizes[r.randrange(len(groups))] += 1
    euro_rows = [gr for gr, k in zip(groups, sizes) for _ in range(k)]
    r.shuffle(euro_rows)
    euro_header = ["No", "Country", "Organisation", "Program name", "Programs/Location",
                   "Time period", "Frequency", "SOP/BP"] + [h for _, h in EURO_EOVS] + \
                  ["Lat", "Lon", "Regional coordination", "Website"]
    sheet = [euro_header]
    has_coord = {}
    euro_flags = {gr: {f: False for f, _ in EURO_EOVS} for gr in groups}
    for i, (org, name) in enumerate(euro_rows):
        lat, lon = g.coord()
        kind = r.choices(["both", "lat_only", "junk", "none"], [55, 10, 5, 30])[0]
        lat_cell, lon_cell = {"both": (lat, lon), "lat_only": (lat, None),
                              "junk": ("54N", "n/a"), "none": (None, None)}[kind]
        if kind == "both":
            has_coord[(org, name)] = True
        eov_cells = []
        for flag, _ in EURO_EOVS:
            v = r.choices(["x", None, "X"], [30, 68, 2])[0]
            if v == "x":
                euro_flags[(org, name)][flag] = True
            eov_cells.append(v)
        sheet.append([i + 1, r.choice(["France", "Spain", "Norway", "Finland", "Greece"]), org, name,
                      g.text(1, 4), r.choice(["1979-current", "2006-current", "2015", "2001-2010", "unknown", None]),
                      r.choice(FREQ_EURO), None] + eov_cells +
                     [lat_cell, lon_cell, None, f"https://eurosea.example/{i}" if r.random() < 0.6 else None])
    for k in range(p["euro_blank"]):    # rows without a program name are dropped
        sheet.insert(r.randrange(1, len(sheet) + 1),
                     [len(euro_rows) + k + 1, "Norway", r.choice(ORGS), None, "nowhere", "2015", "Annual", None]
                     + [None] * len(EURO_EOVS) + [None, None, None, None])
    formats.write_xlsx(os.path.join(out, "EuroSea.xlsx"), sheet)
    counts["xlsx"] += len(sheet) - 1

    # ---------------- the combined frame, as LoadPortal builds it
    s2_by_name = {}
    for row in s2_rows:
        s2_by_name.setdefault(row["prog_name"], []).append(row)
    combined = []
    for rec in s4_rows:
        matches = s2_by_name.get(rec["prog_name"]) or [None]
        for m in matches:
            flags = {f: rec["eov"][c] for f, c in S4_EOVS}
            if rec["prog_name"] == "Aleutian Islands Benthic Habitat Survey":
                flags["eov_benthicinvertebrates"] = True
            email = (m["resp_email"] or None) if m else None
            geo = (m["ErinSpatialGeoJSON"] or None) if m else None
            in_obis = rec["In_OBIS"] or None
            combined.append({"name": rec["prog_name"], "email": email, "geojson": geo,
                             "flags": flags,
                             "obis_null": in_obis is None or in_obis == IN_OBIS_NULL})
    n_initial = len(combined)
    merged = sorted(groups, key=lambda gr: (gr[0] is None, (gr[0] or "").encode("utf-8"), gr[1].encode("utf-8")))
    for org, name in merged:
        combined.append({"name": name, "email": None,
                         "geojson": "point" if has_coord.get((org, name)) else None,
                         "flags": euro_flags[(org, name)], "obis_null": True})
    pre_ident = [make_identifier(c["name"]) for c in combined]
    seen = {}
    for c, ident in zip(combined, pre_ident):
        k = seen.get(ident, 0)
        seen[ident] = k + 1
        c["identifier"] = ident if k == 0 else f"{ident}_{k}"
    n_dups = sum(1 for ident in pre_ident if seen[ident] > 1)
    idents = [c["identifier"] for c in combined]
    assert len(set(idents)) == len(idents), "unique identifiers collide"
    user_emails = {c["email"] for c in combined if c["email"]}

    # ---------------- spatial sources
    os.makedirs(os.path.join(out, "largeCSVsites_final"), exist_ok=True)
    total_w = sum(SITE_WEIGHTS)
    site_feats = {}
    for (name, fname, loncol, latcol), wgt in zip(SITE_CSVS, SITE_WEIGHTS):
        n = max(5, p["site_rows"] * wgt // total_w)
        if name == SITE_CSVS[-1][0]:
            n = p["site_rows"] - sum(max(5, p["site_rows"] * w2 // total_w) for w2 in SITE_WEIGHTS[:-1])
        if loncol == "MID_LONGITUDE":
            hdr = ["TRIP_CODE", "MID_LATITUDE", "MID_LONGITUDE", "MID_TIME_UTC1", "X5", "Latitude", "Longitude"]
        elif name == "Movebank":
            hdr = ["event_id", "Latitude", "Longitude"] + [f"attr_{k}" for k in range(23)]
        elif name == "Reef Life Survey":
            hdr = ["SiteCode", "Site.Name", "Site.Latitude", "Site.Longitude", "Country", "surveys",
                   "Start", "Latest", "Times", "X10", "Latitude", "Longitude"]
        else:
            hdr = ["Network Name", "Latitude", "Longitude", "EOVs sampled", "Date start sampled",
                   "Date end sampled", "sampling site name", "Original Order"]
        kept = 0
        lines = [",".join(hdr)]
        for k in range(n):
            lat, lon = g.coord()
            roll = r.random()
            if roll < 0.01:
                lat_s = "91"            # dropped by the Latitude <= 90 filter
            elif roll < 0.02:
                lat_s = "NA"            # null latitude: dropped too
            else:
                lat_s = repr(lat)
                kept += 1
            lon_s = repr(lon + 200) if r.random() < 0.005 else repr(lon)   # >180 kept
            vals = []
            for h in hdr:
                if h in ("Latitude", "MID_LATITUDE"):
                    vals.append(lat_s)
                elif h in ("Longitude", "MID_LONGITUDE"):
                    vals.append(lon_s)
                else:
                    vals.append(f"{h[:3].lower()}{k % 97}")
            if name == "Movebank" and r.random() < 0.05:
                vals += ["extra1", "extra2"]    # ragged row: more fields than the header
            lines.append(",".join(vals))
        with open(os.path.join(out, "largeCSVsites_final", fname), "w", encoding="utf-8") as f:
            f.write("\n".join(lines) + "\n")
        counts["csv"] += n
        site_feats[name] = kept

    # IMMA: attribute-only bundle (.dbf, no .shp)
    imma_fields = ["Title", "Identcode", "Criteria 1", "Criteria 2", "Qual Spp", "Supp Spp", "Region",
                   "Reg Code", "Location", "Loc Code", "Area KmSqu", "Date Sub", "Date Clas",
                   "Date Mod", "URL"]
    os.makedirs(os.path.join(out, os.path.dirname(IMMA[1])), exist_ok=True)
    formats.write_shapefile(os.path.join(out, IMMA[1]), [], imma_fields,
                            [[f"{h[:4]}{k}" if r.random() < 0.9 else "" for h in imma_fields]
                             for k in range(p["imma"])], with_shp=False)
    counts["shp"] += p["imma"]
    copy_feats = {IMMA[0]: p["imma"]}

    os.makedirs(os.path.join(out, FIN_DIR), exist_ok=True)
    for (name, layer), n in zip(FINLAND, p["finland"]):
        pts = [g.coord() for _ in range(n)]
        formats.write_shapefile(os.path.join(out, FIN_DIR, layer),
                                [(formats.POINT, [[(lon, lat)]]) for lat, lon in pts],
                                ["OBJECTID", "Merialue", "Asema", "LAT", "LON"],
                                [[str(k + 1), r.choice(["Perameri", "Selkameri", "Suomenlahti"]),
                                  f"st{k}", repr(lat), repr(lon)] for k, (lat, lon) in enumerate(pts)])
        counts["shp"] += n
        copy_feats[name] = n

    # windfarms: polygon layers are gathered; a layer whose FIRST feature is
    # not a single POLYGON (points, lines, multi-outer polygons) is skipped
    wf = os.path.join(out, WINDFARM[1])

    def square(x, y, d=0.1):   # clockwise outer ring (shapefile spec)
        return [(x, y), (x, y + d), (x + d, y + d), (x + d, y), (x, y)]

    wf_layers = [("", "Belwind_concession_wgs84"), ("", "C-Power_concession_wgs84"),
                 ("Northwind", "Northwind_concession"), ("Rentel", "Rentel_concession")]
    windfarm_feats = 0
    for (sub, layer), n in zip(wf_layers, p["windfarm_poly"]):
        os.makedirs(os.path.join(wf, sub), exist_ok=True)
        shapes = []
        for k in range(n):
            x, y = 2.5 + k * 0.2, 51.5 + r.random()
            rings = [square(x, y)]
            if k > 0 and r.random() < 0.3:
                rings.append(square(x + 0.05, y + 5))   # second outer ring: a MULTIPOLYGON
            shapes.append((formats.POLYGON, rings))
        formats.write_shapefile(os.path.join(wf, sub, layer), shapes, ["Id", "ET_ID"],
                                [[str(k), f"ET{k}"] for k in range(n)])
        windfarm_feats += n
        counts["shp"] += n
    os.makedirs(os.path.join(wf, "Turbines"), exist_ok=True)
    n_other = max(3, p["windfarm_poly"][0] * 3)
    formats.write_shapefile(os.path.join(wf, "Turbines", "turbines"),
                            [(formats.POINT, [[(2.8 + k * 0.01, 51.6)]]) for k in range(n_other)],
                            ["Id"], [[str(k)] for k in range(n_other)])
    formats.write_shapefile(os.path.join(wf, "Turbines", "cables"),
                            [(formats.POLYLINE, [[(2.8, 51.6), (2.9 + k * 0.01, 51.7)]]) for k in range(n_other)],
                            ["Id"], [[str(k)] for k in range(n_other)])
    multi_first = [square(3.5, 52.0), square(3.6, 55.0)]
    formats.write_shapefile(os.path.join(wf, "Turbines", "zz_multi_first"),
                            [(formats.POLYGON, multi_first)], ["Id"], [["0"]])
    counts["shp"] += 2 * n_other + 1

    # Basque TSV (UTM zone 30N metres)
    os.makedirs(os.path.join(out, os.path.dirname(SPAIN[1])), exist_ok=True)
    with open(os.path.join(out, SPAIN[1]), "w") as f:
        f.write("x\ty\tstation\n")
        for k in range(p["spain"]):
            f.write(f"{r.randint(480000, 620000)}\t{r.randint(4780000, 4820000)}\tB{k}\n")
    counts["tsv"] += p["spain"]

    # WESPAS cruise track positions
    formats.write_xlsx(os.path.join(out, WESPAS[1]),
                       [["Longitude", "Latitude", "Time"]] +
                       [[round(-10 + k * 0.001, 4), round(48 + r.random() * 6, 4), f"2020-06-{1 + k % 28:02d}"]
                        for k in range(p["wespas"])])
    counts["xlsx"] += p["wespas"]

    # ---------------- SpatialExport outcome (write order decides the final file)
    feats = {}
    geo_written = set()
    for c in combined:
        if c["geojson"] == "point":
            feats[c["identifier"]] = 1
            geo_written.add(c["identifier"])
        elif c["geojson"] is not None:
            n, ok = geojson_feature_count(c["geojson"])
            if ok:
                feats[c["identifier"]] = n
                geo_written.add(c["identifier"])
    name_idents = {}
    for c in combined:
        name_idents.setdefault(c["name"], []).append(c["identifier"])
    flagged = set(geo_written)
    for name, *_ in SITE_CSVS:
        for ident in name_idents.get(name, []):
            if ident not in geo_written:
                feats[ident] = site_feats[name]
            flagged.add(ident)
    for ident in name_idents.get(WINDFARM[0], []):
        feats[ident] = windfarm_feats
        flagged.add(ident)
    for name, n in copy_feats.items():
        for ident in name_idents.get(name, []):
            feats[ident] = n
            flagged.add(ident)
    for ident in name_idents.get(SPAIN[0], []):
        feats[ident] = p["spain"]
        flagged.add(ident)
    for ident in name_idents.get(WESPAS[0], []):
        feats[ident] = 1
        flagged.add(ident)
    missing = [i for i in idents if i not in flagged]
    for ident in missing:
        feats[ident] = 0

    # ---------------- DB / API seed: GeoNode layers, keywords, links, roles
    db = os.path.join(out, "db")
    os.makedirs(db, exist_ok=True)
    published = [i for i in idents if r.random() < 0.85]
    unknown = [f"unpublished_layer_{k}" for k in range(p["api_unknown"])]
    layer_idents = published + unknown
    r.shuffle(layer_idents)
    pks = r.sample(range(1000, 1000 + 20 * len(layer_idents)), len(layer_idents))
    layer_pk = dict(zip(layer_idents, pks))
    with open(os.path.join(db, "geonode_layers.json"), "w") as f:
        json.dump({"layers": [{"pk": str(layer_pk[i]), "name": i} for i in layer_idents]}, f)
    kw = []
    kid = 500
    for k, short in enumerate(EOV_SHORT):
        if short == "Invertebrates":
            continue       # no keyword: links to this EOV map to a null keyword id
        kw.append({"id": kid, "about": f"http://vocab.goosocean.org/eov/{k + 1}", "alt_label": short})
        kid += 1
    kw += [{"id": kid + k, "about": f"http://other.example/t/{k}", "alt_label": f"Other {k}"} for k in range(4)]
    kw.append({"id": kid + 9, "about": "http://other.example/t/fish", "alt_label": "Fish"})  # filtered out
    with open(os.path.join(db, "goos_eov.csv"), "w") as f:
        f.write("id,short_name,name\n")
        for k, short in enumerate(EOV_SHORT):
            f.write(f"{k + 1},{short},{short} EOV\n")
    with open(os.path.join(db, "geonode_tkeywords.json"), "w") as f:
        json.dump({"tkeywords": kw}, f)
    orphan_pks = [900 + k for k in range(5)]
    pairs = set()
    link_layers = pks + orphan_pks
    while len(pairs) < p["links"]:
        pairs.add((r.choice(link_layers), r.randint(1, 12)))
    links = sorted(pairs)
    with open(os.path.join(out, "layers_layer_eovs.csv"), "w") as f:
        f.write("layer_id,eov_id,short_name\n")
        for lid, eid in links:
            f.write(f"{lid},{eid},{EOV_SHORT[eid - 1]}\n")
    counts["csv"] += len(links)
    roles = [(r.choice(link_layers), r.randint(1, 300), r.choice(["pointOfContact", "owner"]))
             for _ in range(p["roles"])]
    with open(os.path.join(db, "base_contactrole.csv"), "w") as f:
        f.write("resource_id,contact_id,role\n")
        for row in roles:
            f.write("%d,%d,%s\n" % row)

    # ---------------- K5 upsert + E2 overwrite outcome
    matched_rows = [c for c in combined if c["identifier"] in layer_pk]
    matched_pks = {layer_pk[c["identifier"]] for c in matched_rows}
    n_links = sum(1 for lid, _ in links if lid not in matched_pks) + \
        sum(1 for c in matched_rows for f, v in c["flags"].items() if v and f in LINK_EOVS)
    n_roles = sum(1 for lid, _, role in roles if not (lid in matched_pks and role == "pointOfContact")) + \
        sum(1 for c in matched_rows if c["email"])
    final_links = [(lid, eid) for lid, eid in links if lid not in matched_pks] + \
        [(layer_pk[c["identifier"]], LINK_EOVS[f]) for c in matched_rows
         for f, v in c["flags"].items() if v and f in LINK_EOVS]
    goos_short = {k["alt_label"] for k in kw if "goosocean" in k["about"]}
    mapped = sum(1 for _, eid in final_links if EOV_SHORT[eid - 1] in goos_short)

    input_bytes = 0
    for root, _, files in os.walk(out):
        for fn in files:
            if not root.startswith(db):
                input_bytes += os.path.getsize(os.path.join(root, fn))
    expected = {
        "scale": scale, "seed": seed,
        "e1": {"initial": n_initial, "eurosea": len(groups), "combined": len(combined),
               "users": len(user_emails), "duplicates": n_dups, "missing_spatial": len(missing)},
        "features": feats,
        "reports": {"duplicates": n_dups, "missing_spatial": len(missing)},
        "fixtures": {"eovs": 12, "users": len(user_emails)},
        "derby": {"base_resourcebase": len(layer_idents), "base_resourcebase_titled": len(matched_pks),
                  "layers_layer": len(layer_idents), "layers_layer_eovs": n_links,
                  "base_contactrole": n_roles, "goos_eov": 12,
                  "base_resourcebase_tkeywords": n_links, "tkeywords_mapped": mapped},
        "backup_rows": n_links,
        "obis": {"statements": len(combined), "null_in_obis": sum(1 for c in combined if c["obis_null"])},
        "input": {"records": sum(counts.values()), "bytes": input_bytes, "by_format": counts},
    }
    with open(os.path.join(out, "expected.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
    return expected


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--scale", choices=sorted(SCALES), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    e = generate(a.out, a.scale, a.seed)
    print(json.dumps({"e1": e["e1"], "input": e["input"]}))


if __name__ == "__main__":
    main()
