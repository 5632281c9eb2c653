"""Seeded generator of an OSM changeset dump shaped like the planet file.

Writes one multistream ``.osm.bz2`` (independent bzip2 streams
concatenated, as the planet dump is) and a JSON truth record of what a
correct conversion must hold.  The dump covers the planet's shapes:
closed changesets with a bbox, closed ones without (no edits), open ones
with neither ``closed_at`` nor a bbox, several tags per changeset,
``<discussion>`` blocks, XML entities and multibyte user names.

    python3 gen_dump.py --seed 7 --rows 40000 --out dump.osm.bz2 --truth truth.json
"""

import argparse
import bz2
import datetime as dt
import json
import random
from xml.sax.saxutils import escape

USERS = ["Jörg Müller", "山田太郎", "Пётр", "Zoë & Co", "María José", "O'Brien",
         "\"quoted\" mapper", "ØSM-Norge", "mapper<1>", "Łukasz", "ภูมิ", "أحمد"]
EDITORS = ["JOSM/1.5 (19017 en)", "iD 2.27.3", "StreetComplete 57.4",
           "Potlatch 2", "Every Door 5.1", "Vespucci 19.0.3.0"]
COMMENTS = ["Fixed road names & added shops", "Added building <outline>",
            "Korrektur: Straßennamen", "修正道路", "\"Survey\" of the park",
            "Line one\nline two", "Addressing > 100 houses", ""]
SOURCES = ["survey", "Bing aerial imagery", "local knowledge; GPS", "Esri World Imagery"]

EPOCH = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
ROWS_PER_STREAM = 2000


def attr(value):
    """A double-quoted attribute value escaped the way the planet dump is."""
    return '"' + escape(value, {'"': "&quot;", "\n": "&#10;"}) + '"'


def ts(seconds):
    return (EPOCH + dt.timedelta(seconds=seconds)).strftime("%Y-%m-%dT%H:%M:%SZ")


def changeset(rng, cid, created):
    """One ``<changeset>`` element and its truth-record contribution."""
    uid = rng.randrange(1, 5000)
    user = f"{rng.choice(USERS)} {uid}"
    kind = rng.random()
    attrs = [("id", str(cid)), ("created_at", ts(created))]
    has_bbox = False
    if kind < 0.03:  # still open: no closed_at, no bbox
        attrs.append(("open", "true"))
        changes = rng.randrange(0, 50)
    else:
        attrs += [("closed_at", ts(created + rng.randrange(60, 7200))), ("open", "false")]
        changes = 0 if kind < 0.06 else rng.randrange(1, 2000)
        has_bbox = changes > 0
    attrs += [("user", user), ("uid", str(uid))]
    if has_bbox:
        lat = rng.uniform(-85, 85)
        lon = rng.uniform(-179, 179)
        dlat, dlon = rng.uniform(0, 0.5), rng.uniform(0, 0.5)
        attrs += [("min_lat", f"{lat:.7f}"), ("min_lon", f"{lon:.7f}"),
                  ("max_lat", f"{lat + dlat:.7f}"), ("max_lon", f"{lon + dlon:.7f}")]
    comments = rng.choice([0, 0, 0, 1, 2])
    attrs += [("num_changes", str(changes)), ("comments_count", str(comments))]
    head = "<changeset " + " ".join(f"{k}={attr(v)}" for k, v in attrs)

    tags = []
    if rng.random() < 0.9:
        tags.append(("comment", rng.choice(COMMENTS)))
    tags.append(("created_by", rng.choice(EDITORS)))
    if rng.random() < 0.5:
        tags.append(("source", rng.choice(SOURCES)))
    if rng.random() < 0.3:
        tags.append(("imagery_used", "Bing aerial imagery"))
    if rng.random() < 0.1:
        tags.append(("hashtags", "#missingmaps;#hotosm"))
    body = [f'  <tag k="{k}" v={attr(v)}/>' for k, v in tags]
    if comments:
        body.append("  <discussion>")
        for c in range(comments):
            cu = rng.randrange(1, 5000)
            body.append(f'   <comment date="{ts(created + 86400 * (c + 1))}" uid="{cu}" '
                        f"user={attr(rng.choice(USERS))}>")
            body.append(f"    <text>{escape(rng.choice(COMMENTS))}</text>")
            body.append("   </comment>")
        body.append("  </discussion>")
    xml = f" {head}>\n" + "\n".join(body) + "\n </changeset>\n"
    return xml, has_bbox


def generate(seed, rows):
    """Return (list of XML chunks, truth record); chunks split at changesets."""
    rng = random.Random(seed)
    header = ('<?xml version="1.0" encoding="UTF-8"?>\n'
              '<osm version="0.6" generator="planet-dump-ng 1.2.4" '
              'copyright="OpenStreetMap and contributors" '
              'attribution="http://www.openstreetmap.org/copyright" '
              'license="http://opendatacommons.org/licenses/odbl/1-0/">\n'
              ' <bound box="-90,-180,90,180" origin="http://www.openstreetmap.org/api/0.6"/>\n')
    chunks, part = [], [header]
    cid, created, id_sum, null_bbox, max_created = 0, 0, 0, 0, 0
    for i in range(rows):
        cid += rng.randrange(1, 4)
        created += rng.randrange(0, 120)
        xml, has_bbox = changeset(rng, cid, created)
        part.append(xml)
        id_sum += cid
        null_bbox += not has_bbox
        max_created = max(max_created, created)
        if (i + 1) % ROWS_PER_STREAM == 0:
            chunks.append("".join(part))
            part = []
    part.append("</osm>\n")
    chunks.append("".join(part))
    truth = {"rows": rows, "id_sum": id_sum, "null_bbox": null_bbox,
             "max_created_at": ts(max_created)}
    return chunks, truth


def write(seed, rows, out, truth_path):
    chunks, truth = generate(seed, rows)
    with open(out, "wb") as f:
        for c in chunks:  # one bzip2 stream per chunk: a multistream file
            f.write(bz2.compress(c.encode("utf-8"), 9))
    with open(truth_path, "w") as f:
        json.dump(truth, f)
    return truth


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--rows", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--truth", required=True)
    a = ap.parse_args()
    print(json.dumps(write(a.seed, a.rows, a.out, a.truth)))


if __name__ == "__main__":
    main()
