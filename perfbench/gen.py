"""Seeded input generator for the `ingest` workload.

Writes, under an output directory:
  chapters.jsonl              one chapter per line: chapter, title, adapter, api_id
  pages/<adapter>/<chapter>.ndjson
                              that chapter's API page, one raw event per line,
                              in the adapter's own JSON shape
  expected.json               per chapter, the rows the pipeline must land
                              (ok) and route to the error channel (err)

Every seed gives the same shape, so that runs on different seeds
measure the same amount of work: 10 chapters per adapter plus one
chapter naming an adapter no worker is registered for (it gets no page
and exactly one error row), 200 events per chapter, of which 6 are
malformed the way real captures are: a missing id, an unparseable
`start_time` (facebook), an unparseable local time or a missing
timezone (eventbrite). The seed decides the order of the chapters,
which events are malformed and how, and every generated value. The
same seed gives the same bytes.
"""
import json
import os
import random

ADAPTERS = ["meetup", "facebook", "eventbrite"]
UNREGISTERED = "tito"
CHAPTERS_PER_ADAPTER = 10
EVENTS_PER_CHAPTER = 200
MALFORMED_PER_CHAPTER = 6
ZONES = ["Europe/Rome", "Europe/Berlin", "America/New_York", "America/Chicago",
         "America/Los_Angeles", "Asia/Tokyo", "Australia/Sydney", "America/Sao_Paulo"]
CITIES = ["Berlin", "Rome", "New York", "London", "Tokyo", "Lagos", "Lima", "Oslo"]
WORDS = ("paper consensus types proofs stream join index cache graph query "
         "lambda compiler kernel shard replica log clock vector sketch").split()


def _text(rng, n):
    return " ".join(rng.choice(WORDS) for _ in range(n))


def _markdown(rng):
    """A description using the markdown subset the facebook worker renders."""
    blocks = [f"# {_text(rng, 3).title()}",
              f"Talks about *{_text(rng, 2)}* and **{_text(rng, 2)}** with `{rng.choice(WORDS)}`.",
              f"RSVP at [the page](https://example.org/{rng.randrange(10**6)}).",
              "\n".join(f"- {_text(rng, 3)}" for _ in range(rng.randrange(2, 5))),
              "\n".join(f"{i + 1}. {_text(rng, 2)}" for i in range(rng.randrange(2, 4))),
              _text(rng, rng.randrange(20, 60))]
    rng.shuffle(blocks)
    return "\n\n".join(blocks[:rng.randrange(3, 6)])


def _local_time(rng):
    """Evening local time on a date in 2015-2024 (never in a DST gap)."""
    return (f"{rng.randrange(2015, 2025)}-{rng.randrange(1, 13):02d}-{rng.randrange(1, 29):02d}"
            f"T{rng.randrange(17, 22):02d}:{rng.choice(['00', '15', '30', '45'])}:00")


def _venue_meetup(rng):
    return {"name": _text(rng, 2).title(), "address_1": f"{rng.randrange(1, 200)} Main St",
            "address_2": f"Floor {rng.randrange(1, 9)}", "country": "us",
            "city": rng.choice(CITIES), "zip": f"{rng.randrange(10000, 99999)}",
            "lon": round(rng.uniform(-180, 180), 4), "lat": round(rng.uniform(-80, 80), 4)}


def _meetup(rng, chapter, api_id, i, bad):
    eid = f"{chapter}{i:05d}"
    e = {"chapter": chapter, "id": eid,
         "link": f"http://www.meetup.com/{api_id}/events/{eid}/",
         "time": 1420070400000 + rng.randrange(10**11), "utc_offset": rng.choice([-5, 0, 1, 2, 9]) * 3600000,
         "name": _text(rng, 4).title(), "description": _text(rng, rng.randrange(10, 40)),
         "venue": _venue_meetup(rng)}
    if rng.random() < 0.7:
        e["photo_album"] = {"photo_sample": [
            {"photo_link": f"https://photos.example/{eid}-{k}.jpg"} for k in range(rng.randrange(1, 4))]}
    if bad:
        del e["id"]
    return e


def _facebook(rng, chapter, api_id, i, bad):
    sign = rng.choice("+-")
    offset = rng.choice([f"{sign}0200", f"{sign}05:00", f"{sign}0930"])
    e = {"chapter": chapter, "id": f"15351{rng.randrange(10**10):010d}",
         "start_time": _local_time(rng) + offset, "name": _text(rng, 4).title(),
         "description": _markdown(rng),
         "place": {"name": _text(rng, 2).title(),
                   "location": {"street": f"{_text(rng, 1).title()}str. {rng.randrange(1, 99)}",
                                "city": rng.choice(CITIES), "country": "Germany",
                                "zip": f"{rng.randrange(10000, 99999)}",
                                "longitude": round(rng.uniform(-180, 180), 4),
                                "latitude": round(rng.uniform(-80, 80), 4)}}}
    if bad:
        if rng.random() < 0.5:
            del e["id"]
        else:
            e["start_time"] = rng.choice(["whenever", "TBD", "next tuesday"])
    return e


def _eventbrite(rng, chapter, api_id, i, bad):
    eid = f"{rng.randrange(10**11)}"
    name = _text(rng, 4).title()
    about = _text(rng, rng.randrange(10, 40))
    e = {"chapter": chapter, "id": eid,
         "url": f"https://www.eventbrite.com/e/{api_id}-tickets-{eid}",
         "name": {"text": name, "html": name},
         "description": {"text": about, "html": f"<p>{about}</p>"},
         "start": {"timezone": rng.choice(ZONES), "local": _local_time(rng)},
         "venue": {"name": _text(rng, 2).title(),
                   "longitude": f"{rng.uniform(-180, 180):.4f}",
                   "latitude": f"{rng.uniform(-80, 80):.4f}",
                   "address": {"address_1": f"Via {_text(rng, 1).title()} {rng.randrange(1, 99)}",
                               "city": rng.choice(CITIES), "postal_code": f"{rng.randrange(10000, 99999)}",
                               "country": "IT"}}}
    if bad:
        if rng.random() < 0.5:
            del e["start"]["timezone"]
        else:
            e["start"]["local"] = rng.choice(["soon", "2019-13-45T99:00:00", "tonight"])
    return e


MAKERS = {"meetup": _meetup, "facebook": _facebook, "eventbrite": _eventbrite}


def generate(seed, out):
    """Write the inputs for `seed` under `out`; returns the expected counts."""
    rng = random.Random(seed)
    adapters = [a for a in ADAPTERS for _ in range(CHAPTERS_PER_ADAPTER)] + [UNREGISTERED]
    rng.shuffle(adapters)
    expected = {}
    chapter_lines = []
    for c, adapter in enumerate(adapters):
        chapter = f"c{c:03d}"
        api_id = f"pwl-{chapter}"
        chapter_lines.append(json.dumps({"chapter": chapter, "title": f"Chapter {c}",
                                         "adapter": adapter, "api_id": api_id}))
        if adapter == UNREGISTERED:
            expected[chapter] = {"ok": 0, "err": 1}
            continue
        bad = set(rng.sample(range(EVENTS_PER_CHAPTER), MALFORMED_PER_CHAPTER))
        lines = [json.dumps(MAKERS[adapter](rng, chapter, api_id, i, i in bad))
                 for i in range(EVENTS_PER_CHAPTER)]
        os.makedirs(os.path.join(out, "pages", adapter), exist_ok=True)
        with open(os.path.join(out, "pages", adapter, f"{chapter}.ndjson"), "w") as f:
            f.write("\n".join(lines) + "\n")
        expected[chapter] = {"ok": EVENTS_PER_CHAPTER - len(bad), "err": len(bad)}
    with open(os.path.join(out, "chapters.jsonl"), "w") as f:
        f.write("\n".join(chapter_lines) + "\n")
    with open(os.path.join(out, "expected.json"), "w") as f:
        json.dump({"seed": seed, "chapters": expected}, f, indent=1, sort_keys=True)
    return expected
