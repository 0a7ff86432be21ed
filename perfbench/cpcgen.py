"""Seeded generator of CPC bulk files, plus an independent model of what the
pipeline must report for them.

The universe matches the real scheme's size: 9 sections x 99 classes x
3 subclasses x 100 main groups = 267,300 group symbols, plus 3,573 headings
(sections, classes, subclasses) = 270,873 title rows. Files use the bulk
release layout the pipeline reads:

  CPCTitleList{v}.zip     one `cpc-section-{S}-{v}.txt` member per section
  CPCSymbolList{v}.zip    one 7-column CSV, header first, status last
  CPCValidityFile{v}.zip  one TSV: symbol, valid_from, valid_to
  CPCSchemeXML{v}.zip     one `cpc-scheme-{subclass}.xml` member per subclass

Dimension files write group symbols in the spaced form ("A01B 1/00"), so the
loaders' whitespace normalisation is on the path. Every symbol is listed,
active and in the hierarchy, so the gate passes and the pipeline publishes.

The model never calls the program: it evaluates the reference validation
rules (validator.py:176-228) on the generator's own records.

Run `python3 perfbench/cpcgen.py <out_dir> <seed>` to write the zips
and print the model's summary.
"""
import hashlib
import json
import os
import random
import sys
import zipfile

VERSION = "202505"
SECTIONS = "ABCDEFGHY"
N_CLASSES = 99
SUBCLASS_LETTERS = "BCD"
N_GROUPS = 100

WORDS = (
    "apparatus method device system means control unit element layer signal "
    "processing material compound circuit vehicle engine fluid heat light "
    "measuring testing treatment surface structure composition machine tool "
    "container member housing support assembly electric optical mechanical "
    "chemical biological plant animal food medical data image sound power "
    "storage transmission conversion generation detection separation mixing "
    "cutting forming coating printing cleaning cooling heating drying building "
    "road rail water air gas oil metal glass paper textile plastic rubber wood"
).split()


def _titles(rng, heading, n=4096):
    """A pool of n random titles; rows draw from it, which keeps generation
    fast without changing what the pipeline does per row."""
    pool = []
    for _ in range(n):
        words = rng.choices(WORDS, k=rng.randint(2, 9))
        if heading:
            pool.append(" ".join(words).upper())
            continue
        text = " ".join(words)
        if rng.random() < 0.3:
            text += "; " + " ".join(rng.choices(WORDS, k=rng.randint(1, 4)))
        pool.append(text[0].upper() + text[1:])
    return pool


def _spaced(symbol):
    """Dimension-file spelling of a group symbol: "A01B1/00" -> "A01B 1/00"."""
    return symbol[:4] + " " + symbol[4:] if "/" in symbol else symbol


def generate(seed):
    """Builds the title rows (symbol, level or None, title) in file order."""
    rng = random.Random(seed)
    heads, groups = _titles(rng, True), _titles(rng, False)
    bits = rng.getrandbits
    rows = []
    for s in SECTIONS:
        rows.append((s, None, heads[bits(12)]))
        for c in range(N_CLASSES):
            cls = f"{s}{c:02d}"
            rows.append((cls, None, heads[bits(12)]))
            for sub in SUBCLASS_LETTERS:
                subclass = cls + sub
                rows.append((subclass, None, heads[bits(12)]))
                for g in range(1, N_GROUPS + 1):
                    rows.append((f"{subclass}{g}/00", bits(2), groups[bits(12)]))
    return rows


def _zip(path, members):
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED, compresslevel=1) as z:
        for name, text in members:
            z.writestr(name, text)


def write_zips(out_dir, rows):
    os.makedirs(out_dir, exist_ok=True)
    v = VERSION
    by_section = {}
    for sym, level, title in rows:
        line = f"{sym}\t{title}" if level is None else f"{sym}\t{level}\t{title}"
        by_section.setdefault(sym[0], []).append(line)
    _zip(f"{out_dir}/CPCTitleList{v}.zip",
         [(f"cpc-section-{s}-{v}.txt", "\n".join(lines) + "\n\n") for s, lines in by_section.items()])

    csv = ["symbol,level,not-allocatable,additional-only,introduced,sort-key,status"]
    tsv = ["symbol\tvalid_from\tvalid_to"]
    for i, (sym, level, _) in enumerate(rows):
        csv.append(f"{_spaced(sym)},{level if level is not None else ''},false,false,2013-01,{i},published")
        tsv.append(f"{_spaced(sym)}\t2013-01-01\t")
    _zip(f"{out_dir}/CPCSymbolList{v}.zip", [(f"CPCSymbolList{v}.csv", "\n".join(csv) + "\n")])
    _zip(f"{out_dir}/CPCValidityFile{v}.zip", [(f"cpc_validity_{v}.txt", "\n".join(tsv) + "\n")])

    members = []
    item = "<classification-item><classification-symbol>{}</classification-symbol><class-title>{}</class-title>"
    groups = []
    head = None
    for sym, level, title in rows:
        if level is None and len(sym) == 4:
            if head:
                members.append(_scheme_member(head, groups))
            head, groups = (sym, title), []
        elif level is not None:
            groups.append(item.format(_spaced(sym), title) + "</classification-item>")
    members.append(_scheme_member(head, groups))
    _zip(f"{out_dir}/CPCSchemeXML{v}.zip", members)


def _scheme_member(head, groups):
    sub, title = head
    item = "<classification-item><classification-symbol>{}</classification-symbol>"
    body = (item.format(sub[0]) + item.format(sub[:3]) + item.format(sub)
            + f"<class-title>{title}</class-title>\n" + "\n".join(groups)
            + "</classification-item>" * 3)
    xml = f'<?xml version="1.0" encoding="UTF-8"?>\n<class-scheme>\n{body}\n</class-scheme>\n'
    return f"cpc-scheme-{sub}.xml", xml


def _parse_symbol(s):
    """The reference's parse_symbol (parser.py:13-41): section, class, subclass."""
    if not s or s.isdigit():
        return None, None, None
    section = s[0] if s[0].isalpha() else None
    cls = s[:3] if s[1:3].isdigit() and len(s[1:3]) == 2 else None
    sub = s[:4] if s[3:4].isalpha() else None
    return section, cls, sub


def _valid_format(s):
    return bool(s) and s[0] in "ABCDEFGHY" and (len(s) < 3 or (s[1:3].isdigit() and len(s[1:3]) == 2))


def row_hash_line(symbol, level, title, version):
    section, cls, sub = _parse_symbol(symbol)
    vals = [symbol, None if level is None else repr(float(level)), title, section, cls, sub, version]
    return "\t".join("\\N" if x is None else x for x in vals)


def row_hash(lines):
    """Order-insensitive hash of published rows: the sums of the first and
    the second 32 bits of each row line's md5, and the row count."""
    hi = lo = n = 0
    for line in lines:
        d = hashlib.md5(line.encode()).hexdigest()
        hi += int(d[:8], 16)
        lo += int(d[8:16], 16)
        n += 1
    return {"rows": n, "hi": hi, "lo": lo}


def model(rows):
    """What one pipeline run over these files must report: the symbol list
    and the validity file hold every symbol, active (empty valid_to), and
    the scheme XML puts every symbol but the sections in the hierarchy."""
    in_list = {sym for sym, _, _ in rows}
    status = {sym: "ACTIVE" for sym in in_list}
    hierarchy = {sym for sym in in_list if len(sym) > 1}
    invalid = []
    for title_sym, _, _ in rows:
        warnings = []
        fmt = _valid_format(title_sym)
        if not fmt:
            warnings.append("Invalid symbol format")
        listed = title_sym in in_list
        if not listed:
            warnings.append("Symbol not found in symbol list")
        st = status.get(title_sym, "UNKNOWN")
        if st != "ACTIVE":
            warnings.append(f"Symbol status: {st}")
        if title_sym not in hierarchy:
            warnings.append("Symbol not found in schema hierarchy")
        if not (fmt and listed and st == "ACTIVE"):
            invalid.append((title_sym, warnings))
    invalid.sort()
    published = None
    if not invalid:
        published = row_hash(row_hash_line(t, lv, ti, VERSION) for t, lv, ti in rows)
    return {
        "total": len(rows),
        "invalid": len(invalid),
        "first_invalid": [[s, w] for s, w in invalid[:10]],
        "published": published,
    }


def build(out_dir, seed):
    """Writes the zips into out_dir and returns the model's expectation."""
    rows = generate(seed)
    write_zips(out_dir, rows)
    return model(rows)


if __name__ == "__main__":
    expected = build(sys.argv[1], int(sys.argv[2]))
    print(json.dumps(expected))
