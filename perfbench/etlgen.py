"""Seeded inputs of the etl_files workload, and the record of every cell.

Writes under `root`:
  excel/Book?.xlsx      two-sheet workbooks: one sheet to export and one
                        the export settings leave out
  settings/             the export and import settings files
  derby_tables.tsv      table, sink (jdbc | resilient), key, columns
  workbooks.tsv         workbook, the sheets it must export
  invoices.pristine.csv the invoice tracking list (copied to invoices.csv
                        before each pass)
  manifest.parquet      the document index the invoice search joins
  docstore/<year>/...   the documents that exist
  probe/                the VARCHAR probe's settings and fixed CSV, the
                        same whatever the seed
Returns the truth: every cell written, the injected faults, and the
documents and flags the invoice search must produce.

The xlsx files are written here with zipfile, not with the program's own
writer, so a fault shared by the program's writer and reader cannot hide.
"""
import csv
import random
import zipfile
from pathlib import Path
from xml.sax.saxutils import escape

import pyarrow as pa
import pyarrow.parquet as pq

WORKBOOKS = ["BookA", "BookB"]
ROWS_PER_SHEET = 4000
NULL_KEY_SHARE = 0.005
DUPLICATES_PER_SHEET = 5
COLUMNS = ["ID", "NAME", "CITY", "AMOUNT", "ISSUED", "NOTE"]
IMPORTED = ["ID", "NAME", "CITY", "AMOUNT", "ISSUED"]  # NOTE is projected away
DATETIME = ["ISSUED"]
N_INVOICES = 1500
# the probe: a null string bound into a VARCHAR column by the batched sink
PROBE_COLUMNS = ["ID", "NAME", "CITY"]
PROBE_ROWS = [["P1", "alpha", "Oslo"], ["P2", "bolt", None],
              ["P3", "crate", "Riga"]]

WORDS = ["alpha", "bolt", "crate", "delta", "ember", "fjord", "gasket",
         "harbor", "ingot", "jetty", "kettle", "lumen", "mortar", "nozzle"]
# forbidden characters and SQL words, as the import's sanitizer must meet
TRICKY = ["O'Brien", "Smith; Jones", "x--y", "a-;-b", "DROP TABLE stock",
          "GRANTED", "selection", "EXECUTE now", "tables and chairs",
          "truncate me", "Insert;--", "it's updated"]
CITIES = ["Oslo", "Paris, FR", "Lyon", "Porto", "Gdansk, PL", "Riga"]
REFS = ["Acme", "Acme/UK", "Beta\\Ltd", "Gamma Co", "Delta/EU\\Sales"]


def _cell_xml(ref, value, numeric):
    if numeric:
        return f'<c r="{ref}"><v>{value}</v></c>'
    return f'<c r="{ref}" t="s"><v>{value}</v></c>'


def _col(i):
    s = ""
    i += 1
    while i:
        i, r = divmod(i - 1, 26)
        s = chr(65 + r) + s
    return s


def write_xlsx(path, sheets):
    """sheets: [(name, rows)], rows: lists of str or None (cell omitted).
    Text goes through the shared-string table; AMOUNT/ISSUED-like values
    that parse as numbers are numeric cells."""
    shared, index = [], {}

    def sid(s):
        if s not in index:
            index[s] = len(shared)
            shared.append(s)
        return index[s]

    sheet_xml = []
    for _, rows in sheets:
        out = []
        for r, row in enumerate(rows, start=1):
            cells = []
            for c, v in enumerate(row):
                if v is None:
                    continue
                ref = f"{_col(c)}{r}"
                if _is_number(v):
                    cells.append(_cell_xml(ref, v, True))
                else:
                    cells.append(_cell_xml(ref, sid(v), False))
            out.append(f'<row r="{r}">{"".join(cells)}</row>')
        sheet_xml.append(
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<worksheet xmlns="http://schemas.openxmlformats.org/'
            'spreadsheetml/2006/main"><sheetData>' + "".join(out) +
            "</sheetData></worksheet>")
    ns = 'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
    rns = ('xmlns:r="http://schemas.openxmlformats.org/officeDocument/'
           '2006/relationships"')
    wb = (f'<?xml version="1.0" encoding="UTF-8"?><workbook {ns} {rns}>'
          "<sheets>" + "".join(
              f'<sheet name="{escape(n)}" sheetId="{i + 1}" r:id="rId{i + 1}"/>'
              for i, (n, _) in enumerate(sheets)) + "</sheets></workbook>")
    rel = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    rels = ('<?xml version="1.0" encoding="UTF-8"?><Relationships '
            'xmlns="http://schemas.openxmlformats.org/package/2006/'
            'relationships">' + "".join(
                f'<Relationship Id="rId{i + 1}" Type="{rel}/worksheet" '
                f'Target="worksheets/sheet{i + 1}.xml"/>'
                for i in range(len(sheets))) +
            f'<Relationship Id="rId{len(sheets) + 1}" Type="{rel}/sharedStrings"'
            ' Target="sharedStrings.xml"/></Relationships>')
    sst = (f'<?xml version="1.0" encoding="UTF-8"?><sst {ns} '
           f'count="{len(shared)}" uniqueCount="{len(shared)}">' +
           "".join(f"<si><t>{escape(s)}</t></si>" for s in shared) + "</sst>")
    ct = ('<?xml version="1.0" encoding="UTF-8"?><Types xmlns="http://'
          'schemas.openxmlformats.org/package/2006/content-types">'
          '<Default Extension="rels" ContentType="application/'
          'vnd.openxmlformats-package.relationships+xml"/>'
          '<Default Extension="xml" ContentType="application/xml"/></Types>')
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr("[Content_Types].xml", ct)
        z.writestr("xl/workbook.xml", wb)
        z.writestr("xl/_rels/workbook.xml.rels", rels)
        z.writestr("xl/sharedStrings.xml", sst)
        for i, x in enumerate(sheet_xml):
            z.writestr(f"xl/worksheets/sheet{i + 1}.xml", x)


def _is_number(v):
    try:
        float(v)
        return v.strip() == v and v.lower() not in ("nan", "inf", "-inf")
    except ValueError:
        return False


def _row(rng, key):
    name = rng.choice(TRICKY) if rng.random() < 0.2 else \
        f"{rng.choice(WORDS)} {rng.choice(WORDS)}"
    serial = rng.random()
    if serial < 0.05:
        issued = None
    elif serial < 0.08:
        issued = "n/a"  # not a serial: converts to null
    elif serial < 0.5:
        issued = str(rng.randint(36526, 47000))
    else:
        issued = f"{rng.randint(36526, 47000)}.{rng.choice(['25', '5', '75', '125', '0625'])}"
    note = None if rng.random() < 0.3 else rng.choice(WORDS + TRICKY)
    amount = f"{rng.randint(1, 99999)}.{rng.randint(0, 99):02d}"
    return [key, name, rng.choice(CITIES), amount, issued, note]


def generate(root, seed):
    rng = random.Random(seed)
    root = Path(root)
    for d in ("excel", "settings", "docstore"):
        (root / d).mkdir(parents=True, exist_ok=True)
    sheets_truth, tables, workbooks = {}, [], []
    for w, book in enumerate(WORKBOOKS):
        letter = book[-1]
        exported = [("Orders" if w % 2 == 0 else "Stock") + letter]
        sheets = []
        for s, sheet in enumerate(exported):
            rows, dups = [], 0
            for i in range(ROWS_PER_SHEET):
                key = None if rng.random() < NULL_KEY_SHARE else \
                    f"{sheet[0]}{letter}{i:06d}"
                rows.append(_row(rng, key))
            keyed = [r for r in rows if r[0] is not None]
            for _ in range(DUPLICATES_PER_SHEET):
                # an exact copy of a keyed row: a re-sent record
                rows.insert(rng.randrange(len(rows) + 1), list(rng.choice(keyed)))
                dups += 1
            sink = "resilient" if w % 2 else "jdbc"
            sheets.append((sheet, [COLUMNS] + rows))
            sheets_truth[sheet] = {"table": sheet.upper(), "sink": sink,
                                   "rows": rows, "duplicates": dups}
            tables.append((sheet.upper(), sink))
        # a sheet the export settings do not name: must not be exported
        sheets.append((f"Notes{letter}", [["TEXT"], ["not exported"]]))
        write_xlsx(root / "excel" / f"{book}.xlsx", sheets)
        workbooks.append((book, exported))

    st = root / "settings"
    (st / "export_settings.txt").write_text(
        f"lastModLogFolderPath={root / 'lastmod'}\n"
        f"csvExportFolderPath={root / 'csv_out'}\n"
        f"errorFolderPath={root / 'error'}\n")
    (st / "import_settings.txt").write_text(
        f"lastImpLogFolderPath={root / 'lastimp'}\n"
        f"importFilesFolderPath={root / 'csv_out'}\n"
        f"importProcessedFolderPath={root / 'processed'}\n"
        f"errorFolderPath={root / 'error'}\n")
    for book, exported in workbooks:
        (st / f"{book}_export_settings.txt").write_text(
            "exportFileExtention=.xlsx\n"
            f"exportSourceFolderPath={root / 'excel'}\n"
            f"sheetsToExport={','.join(exported)}\nheaderRow=1\n")
        for sheet in exported:
            (st / f"{sheet}_import_settings.txt").write_text(
                f"importTable=={sheet.upper()}\nimportTablePK==ID\n"
                f"importFieldNames=={','.join(IMPORTED)}\n"
                "importServerName==localhost\nimportDatabaseName==perfbench\n"
                f"importDatetimeFields=={','.join(DATETIME)}\n")
    pr = root / "probe"
    (pr / "settings").mkdir(parents=True)
    (pr / "settings" / "import_settings.txt").write_text(
        f"lastImpLogFolderPath={pr / 'lastimp'}\n"
        f"importFilesFolderPath={pr / 'in'}\n"
        f"importProcessedFolderPath={pr / 'processed'}\n"
        f"errorFolderPath={pr / 'error'}\n")
    (pr / "settings" / "Probe_import_settings.txt").write_text(
        "importTable==PROBE\nimportTablePK==ID\n"
        f"importFieldNames=={','.join(PROBE_COLUMNS)}\n"
        "importServerName==localhost\nimportDatabaseName==perfbench\n")
    with open(pr / "Probe.pristine.csv", "w", newline="") as f:
        csv.writer(f).writerows(
            [PROBE_COLUMNS] + [[c or "" for c in r] for r in PROBE_ROWS])
    (root / "derby_tables.tsv").write_text("".join(
        f"{t}\t{s}\tID\t{','.join(IMPORTED)}\n" for t, s in tables))
    (root / "workbooks.tsv").write_text("".join(
        f"{b}\t{','.join(e)}\n" for b, e in workbooks))

    # invoice search: tracking list, document index, document store
    invoices = [(f"INV{n:05d}", "Yes" if rng.random() < 0.15 else None)
                for n in range(N_INVOICES)]
    with open(root / "invoices.pristine.csv", "w", newline="") as f:
        wr = csv.writer(f)
        wr.writerow(["InvoiceNumber", "Found"])
        for inv, found in invoices:
            wr.writerow([inv, found or ""])
    manifest = []
    for inv, _ in invoices:
        if rng.random() < 0.5:
            for k in range(rng.choice([1, 1, 2])):
                year = rng.choice(["2023", "2024"])
                name = f"doc_{inv}_{k}.pdf"
                exists = rng.random() < 0.9
                manifest.append((inv, year, name, rng.choice(REFS), exists))
    # documents of invoices nobody tracks: never copied
    for n in range(50):
        manifest.append((f"OLD{n:04d}", "2022", f"old_{n}.pdf", "Acme", True))
    for inv, year, name, _, exists in manifest:
        if exists:
            d = root / "docstore" / year
            d.mkdir(exist_ok=True)
            (d / name).write_bytes(f"%PDF {inv} {name}\n".encode())
    pq.write_table(pa.table({
        "invnum": [m[0] for m in manifest],
        "sub_folder": [m[1] for m in manifest],
        "file_name": [m[2] for m in manifest],
        "customer_ref": [m[3] for m in manifest]}),
        root / "manifest.parquet")
    return {"sheets": sheets_truth, "columns": COLUMNS, "imported": IMPORTED,
            "datetime": DATETIME, "invoices": invoices,
            "probe": {"table": "PROBE", "columns": PROBE_COLUMNS,
                      "rows": PROBE_ROWS},
            "manifest": [list(m) for m in manifest]}
