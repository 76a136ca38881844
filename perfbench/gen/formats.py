"""Byte-level writers for the portal bundle's binary formats.

Built from the published format specs with only the standard library
(`zipfile`, `struct`), so the program's own readers (`graft.io.Xlsx`,
`graft.io.Shapefile`) and writers never share code with the inputs they
are timed on.
"""
import struct
import zipfile
from xml.sax.saxutils import escape


# ------------------------------------------------------------------ XLSX

def _col_letters(i):
    s = ""
    i += 1
    while i:
        i, r = divmod(i - 1, 26)
        s = chr(65 + r) + s
    return s


def write_xlsx(path, rows):
    """One-sheet SpreadsheetML workbook. `rows` is a list of lists; a cell
    is a str (shared string), an int/float (numeric) or None (omitted, so
    the reader has to pad the row)."""
    shared, index = [], {}
    sheet = ['<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
             '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
             '<sheetData>']
    for r, row in enumerate(rows, start=1):
        cells = []
        for c, v in enumerate(row):
            if v is None:
                continue
            ref = f"{_col_letters(c)}{r}"
            if isinstance(v, str):
                if v not in index:
                    index[v] = len(shared)
                    shared.append(v)
                cells.append(f'<c r="{ref}" t="s"><v>{index[v]}</v></c>')
            else:
                cells.append(f'<c r="{ref}"><v>{v!r}</v></c>')
        sheet.append(f'<row r="{r}">{"".join(cells)}</row>')
    sheet.append("</sheetData></worksheet>")
    sst = ['<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
           f'<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
           f'count="{len(shared)}" uniqueCount="{len(shared)}">']
    sst += [f'<si><t xml:space="preserve">{escape(s)}</t></si>' for s in shared]
    sst.append("</sst>")
    ns = "http://schemas.openxmlformats.org"
    files = {
        "[Content_Types].xml":
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
            f'<Types xmlns="{ns}/package/2006/content-types">'
            '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
            '<Default Extension="xml" ContentType="application/xml"/>'
            '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
            '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
            '<Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/>'
            '</Types>',
        "_rels/.rels":
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
            f'<Relationships xmlns="{ns}/package/2006/relationships">'
            f'<Relationship Id="rId1" Type="{ns}/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>'
            '</Relationships>',
        "xl/workbook.xml":
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
            f'<workbook xmlns="{ns}/spreadsheetml/2006/main" xmlns:r="{ns}/officeDocument/2006/relationships">'
            '<sheets><sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets></workbook>',
        "xl/_rels/workbook.xml.rels":
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
            f'<Relationships xmlns="{ns}/package/2006/relationships">'
            f'<Relationship Id="rId1" Type="{ns}/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>'
            f'<Relationship Id="rId2" Type="{ns}/officeDocument/2006/relationships/sharedStrings" Target="sharedStrings.xml"/>'
            '</Relationships>',
        "xl/worksheets/sheet1.xml": "".join(sheet),
        "xl/sharedStrings.xml": "".join(sst),
    }
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        for name, text in files.items():
            # fixed timestamp: the same seed gives the same bytes
            info = zipfile.ZipInfo(name, date_time=(2020, 1, 1, 0, 0, 0))
            info.compress_type = zipfile.ZIP_DEFLATED
            z.writestr(info, text.encode("utf-8"))


# ------------------------------------------------------- ESRI shapefile

NULL, POINT, POLYLINE, POLYGON = 0, 1, 3, 5


def _bbox(points):
    xs = [p[0] for p in points] or [0.0]
    ys = [p[1] for p in points] or [0.0]
    return min(xs), min(ys), max(xs), max(ys)


def _content(shape):
    """Record content bytes (little-endian part) for one geometry.
    `shape` is (type, parts) with parts a list of point lists."""
    st, parts = shape
    if st == NULL:
        return struct.pack("<i", 0)
    if st == POINT:
        (x, y), = parts[0]
        return struct.pack("<idd", POINT, x, y)
    pts = [p for part in parts for p in part]
    out = struct.pack("<i4d2i", st, *_bbox(pts), len(parts), len(pts))
    start = 0
    for part in parts:
        out += struct.pack("<i", start)
        start += len(part)
    for x, y in pts:
        out += struct.pack("<2d", x, y)
    return out


def _main_header(file_bytes, shape_type, points):
    return (struct.pack(">7i", 9994, 0, 0, 0, 0, 0, file_bytes // 2)
            + struct.pack("<2i", 1000, shape_type)
            + struct.pack("<4d", *_bbox(points))
            + struct.pack("<4d", 0.0, 0.0, 0.0, 0.0))


def write_dbf(path, fields, rows):
    """dBASE III table, every field type C (text). Values are ASCII."""
    enc = [[(v or "").encode("ascii") for v in row] for row in rows]
    lens = [max([1] + [len(r[i]) for r in enc]) for i in range(len(fields))]
    lens = [min(254, n) for n in lens]
    header_size = 32 + 32 * len(fields) + 1
    rec_size = 1 + sum(lens)
    out = bytearray(struct.pack("<B3BiHH20x", 3, 120, 1, 1, len(rows), header_size, rec_size))
    for name, n in zip(fields, lens):
        nb = name.encode("latin-1")[:11]
        out += nb + b"\0" * (11 - len(nb)) + b"C" + b"\0" * 4 + bytes([n, 0]) + b"\0" * 14
    out += b"\r"
    for r in enc:
        out += b" "
        for v, n in zip(r, lens):
            v = v[:n]
            out += v + b" " * (n - len(v))
    out += b"\x1a"
    with open(path, "wb") as f:
        f.write(out)


WGS84_PRJ = ('GEOGCS["GCS_WGS_1984",DATUM["D_WGS_1984",SPHEROID["WGS_1984",'
             '6378137.0,298.257223563]],PRIMEM["Greenwich",0.0],'
             'UNIT["Degree",0.0174532925199433]]')


def write_shapefile(base, shapes, fields, rows, with_shp=True):
    """`base`.shp/.shx/.dbf/.prj. `shapes` are (type, parts); all non-null
    shapes share one type. `with_shp=False` writes the attribute-only
    bundle (.dbf + .prj), like the reference's IMMA layer."""
    write_dbf(base + ".dbf", fields, rows)
    with open(base + ".prj", "w") as f:
        f.write(WGS84_PRJ)
    if not with_shp:
        return
    types = {s[0] for s in shapes if s[0] != NULL}
    shape_type = types.pop() if types else NULL
    all_pts = [p for s in shapes for part in s[1] for p in part]
    contents = [_content(s) for s in shapes]
    shp_len = 100 + sum(8 + len(c) for c in contents)
    shx_len = 100 + 8 * len(contents)
    shp = bytearray(_main_header(shp_len, shape_type, all_pts))
    shx = bytearray(_main_header(shx_len, shape_type, all_pts))
    off = 100
    for i, c in enumerate(contents, start=1):
        shp += struct.pack(">2i", i, len(c) // 2) + c
        shx += struct.pack(">2i", off // 2, len(c) // 2)
        off += 8 + len(c)
    with open(base + ".shp", "wb") as f:
        f.write(shp)
    with open(base + ".shx", "wb") as f:
        f.write(shx)
