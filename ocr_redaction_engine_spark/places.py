"""Dictionary data for the broadcast dictionary-join stages.

The reference ships a 1391-entry place-name list
(/root/reference/helper/places.py) used as a token × place regex-containment
loop (SURVEY.md §2.5 F10/F26/F31). We do NOT copy that list; the *operator*
(broadcast dictionary containment join) is what we re-implement. This module
carries our own deterministic dictionaries (public-knowledge Indian city names
and common given names) used consistently by the corpus generator, the oracle,
and the Spark engine — so span-sequence equality is self-consistent.
"""

from __future__ import annotations

import csv
import io
import json
import os


def load_places(path: str, column: str = "place") -> list[str]:
    """Production loader for the address dictionary (VERDICT r2 missing #2):
    a user holding the reference's full 1,391-entry list
    (/root/reference/helper/places.py:1-448) exports it to a file once and
    wires it in with ``PipelineConfig(places=load_places(path))`` — no
    hand-built Python list.

    Formats by extension:
      * ``.txt`` (or anything else): one entry per line; blank lines and
        ``#`` comment lines skipped.
      * ``.csv``: header row required; entries read from ``column``.
      * ``.json``: a JSON array of strings.

    Entries are stripped and de-duplicated case-insensitively with first
    occurrence order preserved (match order is observable: the kernel takes
    the FIRST containment hit per token, mirroring the reference's loop
    over its list). Raises ValueError on an empty result — an empty
    dictionary silently disables three extractors, which must be loud.

    The list is driver-side metadata (a few KiB) broadcast into the Arrow
    kernel; this loader never touches the cluster.
    """
    ext = os.path.splitext(path)[1].lower()
    with io.open(path, "r", encoding="utf-8") as f:
        if ext == ".json":
            data = json.load(f)
            if not isinstance(data, list):
                raise ValueError(f"{path}: JSON places file must be an array")
            raw = [str(x) for x in data]
        elif ext == ".csv":
            rd = csv.DictReader(f)
            if rd.fieldnames is None or column not in rd.fieldnames:
                raise ValueError(
                    f"{path}: CSV places file needs a {column!r} column "
                    f"(found {rd.fieldnames})")
            raw = [row[column] or "" for row in rd]
        else:
            raw = [ln for ln in f
                   if ln.strip() and not ln.lstrip().startswith("#")]
    out, seen = [], set()
    for entry in raw:
        entry = entry.strip()
        if not entry or entry.casefold() in seen:
            continue
        seen.add(entry.casefold())
        out.append(entry)
    if not out:
        raise ValueError(f"{path}: loaded an empty places dictionary")
    return out


# Indian cities / districts (public knowledge). Matching semantics mirror the
# reference: ``re.search(place, token, IGNORECASE)`` — substring containment.
PLACES_LIST: list[str] = [
    "Mumbai", "Delhi", "Bengaluru", "Bangalore", "Hyderabad", "Ahmedabad",
    "Chennai", "Kolkata", "Surat", "Pune", "Jaipur", "Lucknow", "Kanpur",
    "Nagpur", "Indore", "Thane", "Bhopal", "Visakhapatnam", "Patna",
    "Vadodara", "Ghaziabad", "Ludhiana", "Agra", "Nashik", "Faridabad",
    "Meerut", "Rajkot", "Varanasi", "Srinagar", "Aurangabad", "Dhanbad",
    "Amritsar", "Allahabad", "Ranchi", "Howrah", "Coimbatore", "Jabalpur",
    "Gwalior", "Vijayawada", "Jodhpur", "Madurai", "Raipur", "Kota",
    "Guwahati", "Chandigarh", "Solapur", "Hubli", "Tiruchirappalli",
    "Bareilly", "Mysuru", "Mysore", "Tiruppur", "Gurgaon", "Aligarh",
    "Jalandhar", "Bhubaneswar", "Salem", "Warangal", "Guntur", "Bhiwandi",
    "Saharanpur", "Gorakhpur", "Bikaner", "Amravati", "Noida", "Jamshedpur",
    "Bhilai", "Cuttack", "Firozabad", "Kochi", "Nellore", "Bhavnagar",
    "Dehradun", "Durgapur", "Asansol", "Rourkela", "Nanded", "Kolhapur",
    "Ajmer", "Akola", "Gulbarga", "Jamnagar", "Ujjain", "Loni", "Siliguri",
    "Jhansi", "Ulhasnagar", "Jammu", "Mangaluru", "Erode", "Belgaum",
    "Ambattur", "Tirunelveli", "Malegaon", "Gaya", "Udaipur", "Maheshtala",
    "Davanagere", "Kozhikode", "Kurnool", "Rajpur", "Rajahmundry", "Bokaro",
    "Bellary", "Patiala", "Gopalpur", "Agartala", "Bhagalpur", "Muzaffarnagar",
    "Bhatpara", "Panihati", "Latur", "Dhule", "Rohtak", "Korba", "Bhilwara",
    "Berhampur", "Muzaffarpur", "Ahmednagar", "Mathura", "Kollam", "Avadi",
]

# Given names + surnames used both to plant PII into text spans and to build
# name lines on synthetic pages.
GIVEN_NAMES: list[str] = [
    "RAHUL", "PRIYA", "AMIT", "SUNITA", "VIJAY", "ANITA", "SANJAY", "KAVITA",
    "RAKESH", "POOJA", "SURESH", "NEHA", "RAMESH", "DEEPA", "ARUN", "MEENA",
    "VIKRAM", "SHILPA", "AJAY", "REKHA", "MANOJ", "GEETA", "DINESH", "SEEMA",
    "ASHOK", "USHA", "PRAKASH", "LATA", "RAJESH", "MAYA", "KIRAN", "RADHA",
    "GOPAL", "SARLA", "MOHAN", "NISHA", "HARISH", "VEENA", "NARESH", "ASHA",
    "SATISH", "BINDU", "MUKESH", "JAYA", "PAWAN", "RUPA", "ANIL", "SWATI",
    "VINOD", "TARA", "SUNIL", "DIVYA", "RAVI", "SONIA", "KAMAL", "PREETI",
    "NITIN", "SMITA", "SACHIN", "ANJALI", "ROHIT", "PALLAVI", "VARUN", "RITU",
]

SURNAMES: list[str] = [
    "SHARMA", "VERMA", "GUPTA", "SINGH", "KUMAR", "PATEL", "REDDY", "NAIR",
    "IYER", "MEHTA", "JOSHI", "DESAI", "CHOPRA", "MALHOTRA", "KAPOOR",
    "AGARWAL", "BANERJEE", "CHATTERJEE", "MUKHERJEE", "DAS", "BOSE", "GHOSH",
    "RAO", "PILLAI", "MENON", "SHETTY", "KULKARNI", "DESHPANDE", "PAWAR",
    "SHINDE", "JADHAV", "CHAUHAN", "YADAV", "MISHRA", "PANDEY", "TRIPATHI",
    "DUBEY", "TIWARI", "SAXENA", "SRIVASTAVA",
]
