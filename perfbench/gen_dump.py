"""Seeded generator for a Discogs-shaped `releases` dump.

Writes a gzipped XML file laid out like the real dump the reference
converts: a `<releases>` root, then one `<release>` element per line.
Each release carries the fields the converter keeps (id, status,
title, artists with empty `anv`/`join` in places, genres, styles,
labels with extra attributes, `master_id` absent in about a quarter of
releases) and the subtrees it must skip (tracklist, extraartists,
formats, identifiers, notes, images, videos, companies, ...), at about
1.7 KB per release.

`generate` returns the aggregates the converted Parquet must match.
The same (n, seed) gives byte-identical output.

    python3 perfbench/gen_dump.py <out.xml.gz> <n_releases> <seed>
"""
import gzip
import json
import random
import sys

STATUSES = ["Accepted", "Accepted", "Accepted", "Draft", "Deleted"]
GENRES = ["Electronic", "Rock", "Pop", "Jazz", "Hip Hop", "Classical",
          "Funk / Soul", "Folk, World, & Country", "Reggae", "Latin",
          "Blues", "Stage & Screen", "Non-Music", "Children's"]
STYLES = ["House", "Techno", "Deep House", "Ambient", "Indie Rock",
          "Rhythm & Blues", "Drum n Bass", "Synth-pop", "Punk", "Soul",
          "Hard Bop", "Drone", "Noise", "Disco", "Rock & Roll", "Dub"]
JOINS = ["", "", "", "&", ",", "feat.", "vs.", "and"]
FORMATS = ["Vinyl", "CD", "Cassette", "File", "Box Set"]
DESCRIPTIONS = ["LP", "Album", "12\"", "45 RPM", "Compilation", "Single",
                "EP", "Reissue", "Stereo"]
COUNTRIES = ["UK", "US", "Germany", "France", "Japan", "Sweden",
             "Netherlands", "Italy", "Canada"]
QUALITIES = ["Correct", "Needs Vote", "Complete and Correct",
             "Needs Minor Changes"]
ROLES = ["Producer", "Mixed By", "Written-By", "Engineer", "Mastered By",
         "Artwork", "Vocals", "Remix"]
SYL = ["ka", "lo", "mi", "ra", "ven", "dor", "sel", "tin", "ba", "qu",
       "ex", "no", "var", "zel", "op", "un", "ri", "sta"]


def _esc(s):
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;") \
        .replace('"', "&quot;")


class _Gen:
    def __init__(self, seed):
        self.r = random.Random(seed)
        r = self.r
        self.words = ["".join(r.choice(SYL) for _ in range(r.randint(2, 4))).capitalize()
                      for _ in range(4096)]

    def ri(self, lo, hi):
        """Uniform integer in [lo, hi]; cheaper than random.randint."""
        return lo + int(self.r.random() * (hi - lo + 1))

    def word(self):
        return self.words[self.r.getrandbits(12)]

    def phrase(self, lo=1, hi=4):
        return " ".join(self.word() for _ in range(self.ri(lo, hi)))

    def artist(self, in_credits=False):
        r = self.r
        name = self.phrase(1, 3)
        anv = name.split(" ")[0] + "." if r.random() < 0.3 else ""
        join = r.choice(JOINS)
        role = r.choice(ROLES) if in_credits else ""
        tracks = f"A{self.ri(1, 6)}" if in_credits and r.random() < 0.3 else ""
        xml = (f"<artist><id>{self.ri(1, 9_000_000)}</id><name>{_esc(name)}</name>"
               f"<anv>{_esc(anv)}</anv><join>{_esc(join)}</join>"
               f"<role>{_esc(role)}</role><tracks>{tracks}</tracks></artist>")
        return xml, anv == ""

    def release(self, rid, agg):
        r = self.r
        parts = [f'<release id="{rid}" status="{r.choice(STATUSES)}">']
        title = self.phrase(1, 5)
        if r.random() < 0.1:
            title += " & " + self.phrase(1, 2)
        parts.append(f"<title>{_esc(title)}</title>")

        n_art = r.choices([0, 1, 2, 3], weights=[3, 70, 20, 7])[0]
        arts = [self.artist() for _ in range(n_art)]
        agg["artists"] += n_art
        agg["null_anv"] += sum(1 for _, empty in arts if empty)
        parts.append("<artists>" + "".join(a for a, _ in arts) + "</artists>")

        for tag, child, pool, weights in (
                ("genres", "genre", GENRES, [5, 70, 20, 5]),
                ("styles", "style", STYLES, [20, 45, 25, 10])):
            vals = r.sample(pool, r.choices([0, 1, 2, 3], weights=weights)[0])
            agg["amp_values"] += sum(1 for v in vals if "&" in v)
            parts.append(f"<{tag}>" + "".join(
                f"<{child}>{_esc(v)}</{child}>" for v in vals) + f"</{tag}>")

        labels = []
        for _ in range(r.choices([0, 1, 2], weights=[5, 80, 15])[0]):
            extra = f' entity_type="1" entity_type_name="Label"' if r.random() < 0.5 else ""
            labels.append(f'<label id="{self.ri(1, 2_000_000)}" '
                          f'catno="{self.word().upper()}-{self.ri(1, 9999):04d}" '
                          f'name="{_esc(self.phrase(1, 3))}"{extra}/>')
        parts.append("<labels>" + "".join(labels) + "</labels>")

        credits = [self.artist(in_credits=True)[0] for _ in range(self.ri(0, 3))]
        parts.append("<extraartists>" + "".join(credits) + "</extraartists>")
        fmt = r.choice(FORMATS)
        descs = "".join(f"<description>{_esc(d)}</description>"
                        for d in r.sample(DESCRIPTIONS, self.ri(1, 3)))
        parts.append(f'<formats><format name="{fmt}" qty="{self.ri(1, 2)}" text="">'
                     f"<descriptions>{descs}</descriptions></format></formats>")
        parts.append(f"<country>{r.choice(COUNTRIES)}</country>"
                     f"<released>{self.ri(1960, 2023)}-{self.ri(1, 12):02d}-"
                     f"{self.ri(1, 28):02d}</released>")
        if r.random() < 0.6:
            parts.append(f"<notes>{_esc(self.phrase(4, 16))}</notes>")
        parts.append(f"<data_quality>{r.choice(QUALITIES)}</data_quality>")
        tracks = []
        for t in range(self.ri(2, 6)):
            tracks.append(f"<track><position>{'AB'[t % 2]}{t // 2 + 1}</position>"
                          f"<title>{_esc(self.phrase(1, 4))}</title>"
                          f"<duration>{self.ri(1, 9)}:{self.ri(0, 59):02d}</duration></track>")
        parts.append("<tracklist>" + "".join(tracks) + "</tracklist>")
        ids = "".join(f'<identifier type="Barcode" value="{self.ri(10**11, 10**12 - 1)}"/>'
                      for _ in range(self.ri(0, 2)))
        parts.append(f"<identifiers>{ids}</identifiers>")
        if r.random() < 0.4:
            parts.append(f'<videos><video duration="{self.ri(60, 600)}" embed="true" '
                         f'src="https://www.youtube.com/watch?v={self.word()}">'
                         f"<title>{_esc(self.phrase(1, 4))}</title></video></videos>")
        if r.random() < 0.5:
            parts.append(f"<companies><company><id>{self.ri(1, 900_000)}</id>"
                         f"<name>{_esc(self.phrase(1, 3))}</name><entity_type>13</entity_type>"
                         f"<entity_type_name>Phonographic Copyright (p)</entity_type_name>"
                         f"</company></companies>")
        parts.append('<images><image type="primary" uri="" uri150="" width="600" '
                     'height="600"/></images>')
        if r.random() < 0.25:
            agg["null_master_id"] += 1
        else:
            main = "true" if r.random() < 0.5 else "false"
            parts.append(f'<master_id is_main_release="{main}">'
                         f"{self.ri(1, 3_000_000)}</master_id>")
        parts.append("</release>\n")
        return "".join(parts)


def generate(path, n, seed):
    """Write the dump; return the aggregates the conversion must match."""
    g = _Gen(seed)
    agg = {"releases": n, "null_master_id": 0, "artists": 0, "null_anv": 0,
           "amp_values": 0}
    with open(path, "wb") as raw, \
            gzip.GzipFile(filename="", mode="wb", fileobj=raw, mtime=0,
                          compresslevel=6) as gz:
        gz.write(b"<releases>\n")
        chunk = []
        for i in range(n):
            chunk.append(g.release(i + 1, agg))
            if len(chunk) == 1000:
                gz.write("".join(chunk).encode("utf-8"))
                chunk = []
        gz.write("".join(chunk).encode("utf-8"))
        gz.write(b"</releases>\n")
    return agg


if __name__ == "__main__":
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]), int(sys.argv[3]))))
