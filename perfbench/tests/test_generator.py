"""The generator's expectations hold for two seeds, re-derived from the
files it wrote (standard-library parsers only, never the program's)."""
import csv
import hashlib
import json
import os
import struct
import sys
import tempfile
import unittest
import xml.etree.ElementTree as ET
import zipfile

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
from gen import portal  # noqa: E402

NS = {"m": "http://schemas.openxmlformats.org/spreadsheetml/2006/main"}


def xlsx_rows(path):
    with zipfile.ZipFile(path) as z:
        shared = [si.find("m:t", NS).text or "" for si in
                  ET.fromstring(z.read("xl/sharedStrings.xml")).findall("m:si", NS)]
        sheet = ET.fromstring(z.read("xl/worksheets/sheet1.xml"))
    rows = []
    for row in sheet.find("m:sheetData", NS).findall("m:row", NS):
        cells = {}
        for c in row.findall("m:c", NS):
            ref = "".join(ch for ch in c.get("r") if ch.isalpha())
            col = 0
            for ch in ref:
                col = col * 26 + ord(ch) - 64
            v = c.find("m:v", NS).text
            cells[col - 1] = shared[int(v)] if c.get("t") == "s" else v
        width = max(cells) + 1 if cells else 0
        rows.append([cells.get(i) for i in range(width)])
    return rows


def dbf_count(path):
    with open(path, "rb") as f:
        return struct.unpack("<i", f.read(8)[4:8])[0]


def tree_digest(root):
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for fn in sorted(files):
            p = os.path.join(d, fn)
            h.update(os.path.relpath(p, root).encode())
            h.update(open(p, "rb").read())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.bundles = {}
        for seed in (1, 2):
            out = os.path.join(cls.tmp.name, f"ref-{seed}")
            cls.bundles[seed] = (out, portal.generate(out, "ref", seed))

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def test_input_counts_match_the_reference(self):
        for seed, (out, exp) in self.bundles.items():
            with open(os.path.join(out, portal.SURVEY4), newline="", encoding="utf-8") as f:
                records = list(csv.DictReader(f))
            self.assertEqual(len(records), 371)
            self.assertTrue(any("\n" in v for r in records for v in r.values()), "multiline quotes")
            euro = xlsx_rows(os.path.join(out, "EuroSea.xlsx"))
            named = [r for r in euro[1:] if len(r) > 3 and r[3]]
            self.assertEqual(len(named), 367)
            self.assertEqual(len({(r[2], r[3]) for r in named}), exp["e1"]["eurosea"])
            lat, lon = euro[0].index("Lat"), euro[0].index("Lon")
            self.assertTrue(any(len(r) > lon and r[lat] is not None and r[lon] is None for r in named))
            imma = os.path.join(out, portal.IMMA[1])
            self.assertEqual(dbf_count(imma + ".dbf"), 159)
            self.assertFalse(os.path.exists(imma + ".shp"))
            sites = 0
            for _, fname, _, _ in portal.SITE_CSVS:
                with open(os.path.join(out, "largeCSVsites_final", fname)) as f:
                    rows = list(csv.reader(f))
                sites += len(rows) - 1
                if fname == "Movebank.csv":
                    self.assertTrue(any(len(r) > len(rows[0]) for r in rows[1:]), "ragged rows")
            self.assertEqual(sites, 55876)

    def test_survey2_edge_cases(self):
        for out, _ in self.bundles.values():
            with open(os.path.join(out, portal.SURVEY2), newline="", encoding="utf-8") as f:
                rows = list(csv.reader(f))[1:]
            docs = [r[1] for r in rows]
            kinds = {json.loads(d)["type"] for d in docs if d.startswith("{\"")}
            self.assertTrue({"Point", "MultiPolygon"} <= kinds)
            self.assertIn("null", docs)
            self.assertIn("", docs)
            body = [tuple(r[1:6]) for r in rows]
            self.assertLess(len(set(body)), len(body), "a duplicate row")

    def test_expected_outcome_is_consistent(self):
        for seed, (out, exp) in self.bundles.items():
            e1 = exp["e1"]
            self.assertEqual(e1["combined"], e1["initial"] + e1["eurosea"])
            self.assertEqual(len(exp["features"]), e1["combined"])
            self.assertEqual(sum(1 for n in exp["features"].values() if n == 0), e1["missing_spatial"])
            with open(os.path.join(out, "layers_layer_eovs.csv")) as f:
                self.assertEqual(sum(1 for _ in f) - 1, 1440)
            self.assertEqual(exp["derby"]["base_resourcebase_tkeywords"], exp["derby"]["layers_layer_eovs"])
            layers = json.load(open(os.path.join(out, "db", "geonode_layers.json")))["layers"]
            self.assertEqual(len(layers), exp["derby"]["base_resourcebase"])

    def test_shapefile_headers_match_their_files(self):
        out, _ = self.bundles[1]
        for _, layer in portal.FINLAND:
            base = os.path.join(out, portal.FIN_DIR, layer)
            with open(base + ".shp", "rb") as f:
                data = f.read()
            self.assertEqual(struct.unpack(">i", data[24:28])[0] * 2, len(data))
            n, off = 0, 100
            while off < len(data):
                off += 8 + struct.unpack(">i", data[off + 4:off + 8])[0] * 2
                n += 1
            self.assertEqual(n, dbf_count(base + ".dbf"))
            self.assertEqual(os.path.getsize(base + ".shx"), 100 + 8 * n)

    def test_same_seed_same_bytes(self):
        out, _ = self.bundles[1]
        with tempfile.TemporaryDirectory() as again:
            portal.generate(again, "ref", 1)
            self.assertEqual(tree_digest(again), tree_digest(out))
        self.assertNotEqual(tree_digest(out), tree_digest(self.bundles[2][0]))

    def test_identifier_port(self):
        self.assertEqual(portal.make_identifier("Estación de Fotobiologia Playa Unión"),
                         "estacion_de_fotobiologia_playa_union")
        self.assertEqual(portal.make_identifier("Service National d'Observation CORAIL"),
                         "service_national_dobservation_corail")
        long = "a" * 40 + " " + "b" * 40
        self.assertEqual(portal.make_identifier(long), "a" * 29 + "b" * 29)


if __name__ == "__main__":
    unittest.main()
