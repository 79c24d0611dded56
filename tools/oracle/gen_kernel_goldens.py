#!/usr/bin/env python3
"""Generate golden-parquet oracles for the kernel (non-SQL) queries.

Two independent sources, neither of which is Spark output:
  - the EXECUTING reference (/root/reference via tools/oracle/ref_oracle.py)
    for everything the reference computes: alignment spans, metrics derived
    from the alignment strings, syllabification, parse_transcript intent,
    the evaluation scorer, the grid search;
  - tools/oracle/graftpy.py — clean-room Python reimplementations of the
    library's OWN kernels (page synthesis, HTML extraction, language-ID,
    winnowing, MinHash/SimHash pipelines, ANN, multimodal stub).

Usage: python3 tools/oracle/gen_kernel_goldens.py <sfDir> <outDir>
e.g.   python3 tools/oracle/gen_kernel_goldens.py /root/testdata/sf0.01 \
             src/test/resources/goldens/sf0.01
"""
import gzip
import json
import math
import os
import sys
from multiprocessing import Pool

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import graftpy as g  # noqa: E402
import ref_oracle  # noqa: E402  (stubs + /root/reference imports)

sys.path.insert(0, "/root/reference")
import parse_cantus_csv  # noqa: E402
import latinSyllabification as latsyl  # noqa: E402

PRED_SCORING = [10, -5, -7, -7]


def per_doc(args):
    doc_id, text = args
    tra = parse_cantus_csv.clean(text)
    url = g.url_for(doc_id)
    html = g.wrap_html(g.noisy_render(text, doc_id), url, doc_id)
    extracted = g.extract_text(html)

    ta, oa, syls, boxes = ref_oracle.process(tra, extracted)
    _, _, _, boxes_pred = ref_oracle.process(tra, extracted, PRED_SCORING)

    edit = gaps = 0
    for a, b in zip(ta, oa):
        if a == "_" or b == "_":
            gaps += 1
            edit += 1
        elif a != b:
            edit += 1

    spans = [(i, s, ul[0], ul[1], lr[0], lr[1])
             for i, (s, ul, lr) in enumerate(boxes)]
    spans_pred = [(i, s, ul[0], ul[1], lr[0], lr[1])
                  for i, (s, ul, lr) in enumerate(boxes_pred)]

    syl_list = latsyl.syllabify_text(tra)
    pt_syls, pt_flags = g.parse_transcript([tra], latsyl.syllabify_word)

    doc_json = json.dumps(
        [{"syl": s, "ul": [ulx, uly], "lr": [lrx, lry]}
         for _, s, ulx, uly, lrx, lry in spans],
        separators=(",", ":"), ensure_ascii=False)

    ev = g.evaluate_means(spans, spans_pred)

    return {
        "doc_id": doc_id, "url": url, "extracted": extracted,
        "spans": spans, "metrics": (len(spans), len(ta), len(oa), edit, gaps),
        "syls": syl_list, "pt": (pt_syls, pt_flags),
        "doc_json": doc_json, "eval": ev,
    }


def grid_combo(args):
    combo, fixtures, gt_per_fixture = args
    m, mm, gox, goy, gex, gey = combo
    scoring = [m, mm, gox, goy, gex, gey]
    scores = []
    for (tra, noisy), gt_spans in zip(fixtures, gt_per_fixture):
        _, _, _, boxes = ref_oracle.process(tra, noisy, scoring)
        pred = [(i, s, ul[0], ul[1], lr[0], lr[1])
                for i, (s, ul, lr) in enumerate(boxes)]
        gt_collapsed = g.collapse_gt(gt_spans)
        if not gt_collapsed:
            scores.append(1.0)
            continue
        per = g.evaluate_per_span(gt_spans, pred)  # collapse-insertion order
        s = 0.0
        for _, _, r in per:
            s += r
        scores.append(s / len(per))
    total = 0.0
    for s in scores:
        total += s
    return combo + (total / len(scores),)


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    os.makedirs(out_dir, exist_ok=True)

    docs = pq.read_table(os.path.join(sf_dir, "documents.parquet"),
                         columns=["doc_id", "text", "lang",
                                  "source"]).to_pandas()
    docs = docs.sort_values("doc_id").reset_index(drop=True)
    doc_items = list(zip(docs.doc_id.tolist(), docs.text.tolist()))

    with Pool(min(32, os.cpu_count())) as pool:
        results = pool.map(per_doc, doc_items, chunksize=8)

    def write(name, schema, cols):
        pq.write_table(pa.table(cols, schema=schema),
                       os.path.join(out_dir, name + ".parquet"))
        print(f"{name}: {len(cols[schema.names[0]])} rows")

    # ---- q_extract_text ----
    write("q_extract_text",
          pa.schema([("url", pa.string()), ("extracted", pa.string())]),
          {"url": [r["url"] for r in results],
           "extracted": [r["extracted"] for r in results]})

    # ---- q_lm_perplexity (bigram-LM bits-per-token; trained on the
    #      doc_id%7==0 slice; pinned portable log2; tertile thresholds) ----
    _lm_u, _lm_b, _lm_ctx = g.lm_train(
        [t for i, t in doc_items if i % 7 == 0])
    _lm_rows = []
    for i, t in doc_items:
        n, bits = g.lm_score(t, _lm_u, _lm_b, _lm_ctx)
        bpt = bits / float(n - 1) if n > 1 else 0.0
        bucket = ("empty" if n <= 1 else
                  "head" if bpt < 4.97 else
                  "middle" if bpt < 5.08 else "tail")
        _lm_rows.append((i, n, bits, bpt, bucket))
    write("q_lm_perplexity",
          pa.schema([("doc_id", pa.int64()), ("n_tokens", pa.int32()),
                     ("bits", pa.float64()), ("bits_per_token", pa.float64()),
                     ("bucket", pa.string())]),
          {"doc_id": [x[0] for x in _lm_rows],
           "n_tokens": [x[1] for x in _lm_rows],
           "bits": [x[2] for x in _lm_rows],
           "bits_per_token": [x[3] for x in _lm_rows],
           "bucket": [x[4] for x in _lm_rows]})

    # ---- q_lm_pruned (same slice FORCED over a small entry cap: min-count
    #      pruning degrades the model instead of failing; pruned vocab
    #      scores as unk) ----
    _lp_u, _lp_b, _lp_ctx = g.lm_train(
        [t for i, t in doc_items if i % 7 == 0], cap=800)
    _lp_rows = []
    for i, t in doc_items:
        n, bits = g.lm_score(t, _lp_u, _lp_b, _lp_ctx)
        bpt = bits / float(n - 1) if n > 1 else 0.0
        bucket = ("empty" if n <= 1 else
                  "head" if bpt < 4.97 else
                  "middle" if bpt < 5.08 else "tail")
        _lp_rows.append((i, n, bits, bpt, bucket))
    write("q_lm_pruned",
          pa.schema([("doc_id", pa.int64()), ("n_tokens", pa.int32()),
                     ("bits", pa.float64()), ("bits_per_token", pa.float64()),
                     ("bucket", pa.string())]),
          {"doc_id": [x[0] for x in _lp_rows],
           "n_tokens": [x[1] for x in _lp_rows],
           "bits": [x[2] for x in _lp_rows],
           "bits_per_token": [x[3] for x in _lp_rows],
           "bucket": [x[4] for x in _lp_rows]})

    # ---- q_classifier_score (hashed linear inference; dyadic weights make
    #      the logit double bit-exact across engines) ----
    _cls_rows = [g.cls_score(i, t) for i, t in doc_items]
    write("q_classifier_score",
          pa.schema([("doc_id", pa.int64()), ("logit", pa.float64()),
                     ("n_features", pa.int32()), ("label", pa.string())]),
          {"doc_id": [x[0] for x in _cls_rows],
           "logit": [x[1] for x in _cls_rows],
           "n_features": [x[2] for x in _cls_rows],
           "label": [x[3] for x in _cls_rows]})

    # ---- q_fix_encoding (ftfy-lite mojibake repair; corruption is the
    #      shared deterministic convention, repair is the clean-room
    #      Python mirror of the strict-round-trip spec) ----
    _moj_rows = []
    for i, t in doc_items:
        c = g.moj_corrupt(i, t)
        f = g.moj_fix(c)
        _moj_rows.append((i, f, c is not None and f != c))
    write("q_fix_encoding",
          pa.schema([("doc_id", pa.int64()), ("fixed_text", pa.string()),
                     ("was_mojibake", pa.bool_())]),
          {"doc_id": [x[0] for x in _moj_rows],
           "fixed_text": [x[1] for x in _moj_rows],
           "was_mojibake": [x[2] for x in _moj_rows]})

    # ---- q_main_content (density-based boilerplate strip over the
    #      chrome-laden fixture; clean-room mirror, not Spark output) ----
    _mc_rows = [(i,) + g.mc_extract(g.boilerplate_html(i, t))
                for i, t in doc_items]
    write("q_main_content",
          pa.schema([("doc_id", pa.int64()), ("content", pa.string()),
                     ("n_blocks", pa.int32()), ("n_kept", pa.int32()),
                     ("removed_chars", pa.int64())]),
          {"doc_id": [x[0] for x in _mc_rows],
           "content": [x[1] for x in _mc_rows],
           "n_blocks": [x[2] for x in _mc_rows],
           "n_kept": [x[3] for x in _mc_rows],
           "removed_chars": [x[4] for x in _mc_rows]})

    # ---- q_markdown + q_html_tables (HTML→Markdown conversion + table
    #      flattening over the structured fixture; one clean-room parse,
    #      two goldens) ----
    _md_rows = []
    _tb_rows = []
    for i, t in doc_items:
        md, nb, cells = g.mdx_convert(g.mdx_structured_html(i, t))
        _md_rows.append((i, md, nb))
        for (ti, ri, ci, hdr, cell) in cells:
            _tb_rows.append((i, ti, ri, ci, hdr, cell))
    write("q_markdown",
          pa.schema([("doc_id", pa.int64()), ("markdown", pa.string()),
                     ("n_blocks", pa.int32())]),
          {"doc_id": [x[0] for x in _md_rows],
           "markdown": [x[1] for x in _md_rows],
           "n_blocks": [x[2] for x in _md_rows]})
    write("q_html_tables",
          pa.schema([("doc_id", pa.int64()), ("table_idx", pa.int32()),
                     ("row_idx", pa.int32()), ("col_idx", pa.int32()),
                     ("is_header", pa.bool_()), ("cell", pa.string())]),
          {"doc_id": [x[0] for x in _tb_rows],
           "table_idx": [x[1] for x in _tb_rows],
           "row_idx": [x[2] for x in _tb_rows],
           "col_idx": [x[3] for x in _tb_rows],
           "is_header": [x[4] for x in _tb_rows],
           "cell": [x[5] for x in _tb_rows]})

    # ---- link graph: q_link_edges (clean-room parse+resolve over the
    #      LinkGen fixture convention) + q_pagerank (exact-fold PageRank,
    #      K=20, d=0.85 — pinned addition orders, bit-identical doubles) ----
    _le = g.link_edges(doc_items)
    _le_sorted = sorted(_le, key=lambda r: (r[0], r[3]))
    write("q_link_edges",
          pa.schema([("src", pa.string()), ("dst", pa.string()),
                     ("anchor", pa.string()), ("pos", pa.int32())]),
          {"src": [x[0] for x in _le_sorted],
           "dst": [x[1] for x in _le_sorted],
           "anchor": [x[2] for x in _le_sorted],
           "pos": [x[3] for x in _le_sorted]})
    _pr = g.lg_pagerank(_le, iters=20, damping=0.85)
    write("q_pagerank",
          pa.schema([("url", pa.string()), ("rank", pa.float64())]),
          {"url": [x[0] for x in _pr], "rank": [x[1] for x in _pr]})

    # ---- q_harmonic (exact pinned BFS) + q_harmonic_hll (HyperBall with
    #      pinned sketch — register-identical, estimate bit-identical) ----
    _hc = g.hc_exact(_le)
    write("q_harmonic",
          pa.schema([("url", pa.string()), ("harmonic", pa.float64())]),
          {"url": [x[0] for x in _hc], "harmonic": [x[1] for x in _hc]})
    _cc = g.lg_components(_le)
    write("q_components",
          pa.schema([("url", pa.string()), ("component", pa.string())]),
          {"url": [x[0] for x in _cc], "component": [x[1] for x in _cc]})
    # the discriminating row: md5-mask subsample -> ~150 islands
    _ccm = g.lg_components(
        [(s, d, a, p) for (s, d, a, p) in _le
         if (g.hc_hash64(s + "|" + d) & 3) == 0])
    write("q_components_multi",
          pa.schema([("url", pa.string()), ("component", pa.string())]),
          {"url": [x[0] for x in _ccm], "component": [x[1] for x in _ccm]})
    _lpa = g.lg_lpa(_le, iters=10)
    write("q_lpa",
          pa.schema([("url", pa.string()), ("community", pa.string())]),
          {"url": [x[0] for x in _lpa], "community": [x[1] for x in _lpa]})
    _ht = g.lg_hits(_le, iters=20)
    write("q_hits",
          pa.schema([("url", pa.string()), ("authority", pa.float64()),
                     ("hub", pa.float64())]),
          {"url": [x[0] for x in _ht], "authority": [x[1] for x in _ht],
           "hub": [x[2] for x in _ht]})
    _hb = g.hc_hyperball(_le, iters=10)
    write("q_harmonic_hll",
          pa.schema([("url", pa.string()), ("harmonic", pa.float64()),
                     ("reach_est", pa.float64())]),
          {"url": [x[0] for x in _hb], "harmonic": [x[1] for x in _hb],
           "reach_est": [x[2] for x in _hb]})

    # ---- q_robots (robots-exclusion decisions for every distinct link
    #      target under the RobotsGen fixture; parser + longest-match glob
    #      mirrored clean-room) ----
    # ---- q_html_meta (head-metadata extraction over the MetaGen fixture;
    #      parser + fixture mirrored clean-room) ----
    _hm = g.hm_rows(doc_items)
    write("q_html_meta",
          pa.schema([("url", pa.string()), ("title", pa.string()),
                     ("description", pa.string()), ("og_title", pa.string()),
                     ("canonical", pa.string()), ("lang", pa.string())]),
          {"url": [x[1] for x in _hm], "title": [x[2] for x in _hm],
           "description": [x[3] for x in _hm], "og_title": [x[4] for x in _hm],
           "canonical": [x[5] for x in _hm], "lang": [x[6] for x in _hm]})

    # ---- q_charset (BOM/meta-prescan sniff + decode over the CharsetGen
    #      mixed-encoding fixture; sniffer mirrored clean-room) ----
    _cs = g.cs_rows(doc_items)
    write("q_charset",
          pa.schema([("doc_id", pa.int64()), ("charset", pa.string()),
                     ("had_bom", pa.bool_()), ("n_chars", pa.int32()),
                     ("prefix", pa.string())]),
          {"doc_id": [x[0] for x in _cs], "charset": [x[1] for x in _cs],
           "had_bom": [x[2] for x in _cs], "n_chars": [x[3] for x in _cs],
           "prefix": [x[4] for x in _cs]})

    # ---- q_kn_perplexity (interpolated Kneser-Ney trigram filter LM;
    #      formulas + portable log2 mirrored clean-room, bit-exact) ----
    _kn = g.kn_rows(doc_items)
    write("q_kn_perplexity",
          pa.schema([("doc_id", pa.int64()), ("n_tokens", pa.int32()),
                     ("n_trans", pa.int32()), ("bits", pa.float64()),
                     ("bits_per_trans", pa.float64())]),
          {"doc_id": [x[0] for x in _kn], "n_tokens": [x[1] for x in _kn],
           "n_trans": [x[2] for x in _kn], "bits": [x[3] for x in _kn],
           "bits_per_trans": [x[4] for x in _kn]})

    # ---- q_classifier_train (distill the lang=='en' heuristic label into
    #      the hashed linear model; pinned full-batch logistic regression
    #      through the portable exp — bit-exact predictions) ----
    _ct = g.cls_train_rows(doc_items, docs.lang.tolist())
    write("q_classifier_train",
          pa.schema([("doc_id", pa.int64()), ("y", pa.int32()),
                     ("p", pa.float64()), ("pred", pa.int32()),
                     ("correct", pa.bool_())]),
          {"doc_id": [x[0] for x in _ct], "y": [x[1] for x in _ct],
           "p": [x[2] for x in _ct], "pred": [x[3] for x in _ct],
           "correct": [x[4] for x in _ct]})

    # ---- q_sent_langid (sentence segmentation x per-sentence lang-ID ->
    #      per-doc plurality/purity; kernel composition mirrored) ----
    _sl = g.sent_langid_rows(doc_items)
    write("q_sent_langid",
          pa.schema([("doc_id", pa.int64()), ("n_sents", pa.int32()),
                     ("main_lang", pa.string()), ("main_frac", pa.float64()),
                     ("n_langs", pa.int32())]),
          {"doc_id": [x[0] for x in _sl], "n_sents": [x[1] for x in _sl],
           "main_lang": [x[2] for x in _sl], "main_frac": [x[3] for x in _sl],
           "n_langs": [x[4] for x in _sl]})

    # ---- q_pdf_text (PDF/layout parse over the PdfGen fixture: literal/
    #      hex strings, escapes, TJ kerning, Td/T* layout, FlateDecode;
    #      parser + fixture mirrored clean-room) ----
    _pdf = g.pdf_rows(doc_items)
    write("q_pdf_text",
          pa.schema([("doc_id", pa.int64()), ("n_streams", pa.int32()),
                     ("n_chars", pa.int32()), ("text", pa.string())]),
          {"doc_id": [x[0] for x in _pdf], "n_streams": [x[1] for x in _pdf],
           "n_chars": [x[2] for x in _pdf], "text": [x[3] for x in _pdf]})

    # ---- q_extract_route (magic-byte dispatch: pdf vs charset->html) ----
    _rt = g.route_rows(doc_items)
    write("q_extract_route",
          pa.schema([("doc_id", pa.int64()), ("kind", pa.string()),
                     ("n_chars", pa.int32()), ("text", pa.string())]),
          {"doc_id": [x[0] for x in _rt], "kind": [x[1] for x in _rt],
           "n_chars": [x[2] for x in _rt], "text": [x[3] for x in _rt]})

    # distinct link targets PLUS the host-extraction pinning urls
    # (query-embedded absolute url, scheme-less url — RobotsGen.ExtraUrls)
    _rb = g.rb_annotate(sorted({x[1] for x in _le} | set(g.RB_EXTRA_URLS)))
    write("q_robots",
          pa.schema([("url", pa.string()), ("host", pa.string()),
                     ("allowed", pa.bool_()), ("rule", pa.string()),
                     ("crawl_delay", pa.float64())]),
          {"url": [x[0] for x in _rb], "host": [x[1] for x in _rb],
           "allowed": [x[2] for x in _rb], "rule": [x[3] for x in _rb],
           "crawl_delay": [x[4] for x in _rb]})

    # ---- q_robots_meta (per-host crawl-delay + sitemap list; directive
    #      parsing mirrored clean-room) ----
    _rm = g.rb_hostmeta()
    write("q_robots_meta",
          pa.schema([("host", pa.string()), ("crawl_delay", pa.float64()),
                     ("n_sitemaps", pa.int32()), ("sitemaps", pa.string())]),
          {"host": [x[0] for x in _rm], "crawl_delay": [x[1] for x in _rm],
           "n_sitemaps": [x[2] for x in _rm], "sitemaps": [x[3] for x in _rm]})

    # ---- q_sitemap (urlset/sitemapindex parse over the SitemapGen
    #      fixture; entity refs + damage guards; parser mirrored
    #      clean-room) ----
    _sm = g.sm_rows()
    write("q_sitemap",
          pa.schema([("host", pa.string()), ("kind", pa.string()),
                     ("seq", pa.int32()), ("loc", pa.string()),
                     ("lastmod", pa.string()), ("changefreq", pa.string()),
                     ("priority", pa.float64())]),
          {"host": [x[0] for x in _sm], "kind": [x[1] for x in _sm],
           "seq": [x[2] for x in _sm], "loc": [x[3] for x in _sm],
           "lastmod": [x[4] for x in _sm], "changefreq": [x[5] for x in _sm],
           "priority": [x[6] for x in _sm]})

    # ---- q_sitemap_seed (urlset locs, distinct, robots-gated: the
    #      politeness loop end-to-end) ----
    _ss = g.sm_seeds()
    write("q_sitemap_seed",
          pa.schema([("url", pa.string()), ("host", pa.string()),
                     ("crawl_delay", pa.float64())]),
          {"url": [x[0] for x in _ss], "host": [x[1] for x in _ss],
           "crawl_delay": [x[2] for x in _ss]})

    # ---- q_bm25 (Okapi BM25 top-10; query fixture convention = every
    #      25th doc's first 3 distinct >=5-char tokens; pinned portable ln
    #      + query-order folds make scores bit-exact) ----
    _bq = [(i, g.bm25_query_terms(t)) for i, t in doc_items
           if i % 25 == 0 and t is not None]
    _bq = [(i, ts) for i, ts in _bq if ts]
    _bm = g.bm25_topk(doc_items, _bq, k=10)
    write("q_bm25",
          pa.schema([("query_id", pa.int64()), ("rank", pa.int32()),
                     ("doc_id", pa.int64()), ("score", pa.float64())]),
          {"query_id": [x[0] for x in _bm], "rank": [x[1] for x in _bm],
           "doc_id": [x[2] for x in _bm], "score": [x[3] for x in _bm]})

    # ---- q_sentences (punkt-lite segmentation over the sentence-cased
    #      fixture convention; splitter mirrored clean-room) ----
    _sent_rows = []
    for i, t in doc_items:
        f = g.sent_fixture(i, t)
        for j, s in enumerate(g.sent_split(f)):
            _sent_rows.append((i, j, s, len(s)))
    write("q_sentences",
          pa.schema([("doc_id", pa.int64()), ("sent_id", pa.int32()),
                     ("sentence", pa.string()), ("n_chars", pa.int32())]),
          {"doc_id": [x[0] for x in _sent_rows],
           "sent_id": [x[1] for x in _sent_rows],
           "sentence": [x[2] for x in _sent_rows],
           "n_chars": [x[3] for x in _sent_rows]})

    # ---- q_warc_records (archive -> record split -> page-text
    #      extraction; parser mirrored clean-room over the shared archive
    #      convention, payload re-extracted through extract_text) ----
    _wrows = []
    _by_arc = {}
    for i, t in doc_items:
        _by_arc.setdefault(i // 20, []).append((i, t))
    for aid in sorted(_by_arc):
        pages = []
        for i, t in sorted(_by_arc[aid]):
            _lang = None  # html depends only on (text, id, url)
            t = t if t is not None else ""  # null-text rows archive empty
            html = g.wrap_html(g.noisy_render(t, i), g.url_for(i), i).encode("utf-8")
            pages.append((i, html, g.url_for(i)))
        blob = g.warc_archive(pages)
        for (off, rt, uri, dt, cl, payload) in g.warc_parse(blob):
            _wrows.append((aid, off, rt, uri, dt, cl,
                           g.extract_text(payload.decode("utf-8"))))
    write("q_warc_records",
          pa.schema([("archive_id", pa.int64()), ("rec_offset", pa.int64()),
                     ("rec_type", pa.string()), ("uri", pa.string()),
                     ("warc_date", pa.string()), ("content_length", pa.int64()),
                     ("extracted", pa.string())]),
          {"archive_id": [x[0] for x in _wrows],
           "rec_offset": [x[1] for x in _wrows],
           "rec_type": [x[2] for x in _wrows],
           "uri": [x[3] for x in _wrows],
           "warc_date": [x[4] for x in _wrows],
           "content_length": [x[5] for x in _wrows],
           "extracted": [x[6] for x in _wrows]})

    # ---- q_warc_gz (same records via the .warc.gz member-per-record
    #      path: gzip member split -> plain-stream reassembly -> parse;
    #      must reduce to exactly q_warc_records' rows) ----
    _gzrows = []
    for aid in sorted(_by_arc):
        pages = []
        for i, t in sorted(_by_arc[aid]):
            t = t if t is not None else ""
            html = g.wrap_html(g.noisy_render(t, i), g.url_for(i),
                               i).encode("utf-8")
            pages.append((i, html, g.url_for(i)))
        blob = g.gunzip_members(g.warc_archive_gz(pages))
        for (off, rt, uri, dt, cl, payload) in g.warc_parse(blob):
            _gzrows.append((aid, off, rt, uri, dt, cl,
                            g.extract_text(payload.decode("utf-8"))))
    assert _gzrows == _wrows, "gz path must reproduce the plain rows"
    write("q_warc_gz",
          pa.schema([("archive_id", pa.int64()), ("rec_offset", pa.int64()),
                     ("rec_type", pa.string()), ("uri", pa.string()),
                     ("warc_date", pa.string()), ("content_length", pa.int64()),
                     ("extracted", pa.string())]),
          {"archive_id": [x[0] for x in _gzrows],
           "rec_offset": [x[1] for x in _gzrows],
           "rec_type": [x[2] for x in _gzrows],
           "uri": [x[3] for x in _gzrows],
           "warc_date": [x[4] for x in _gzrows],
           "content_length": [x[5] for x in _gzrows],
           "extracted": [x[6] for x in _gzrows]})

    # ---- q_warc_http (HTTP-wrapped response payloads: record-type
    #      filter, status/Content-Type parse, transport-charset decode
    #      in WHATWG precedence) ----
    _ht = []
    for aid in sorted(_by_arc):
        _ht.extend(g.http_rows(sorted(_by_arc[aid]), aid))
    write("q_warc_http",
          pa.schema([("archive_id", pa.int64()), ("rec_offset", pa.int64()),
                     ("uri", pa.string()), ("status", pa.int32()),
                     ("mime", pa.string()), ("charset", pa.string()),
                     ("had_bom", pa.bool_()), ("n_chars", pa.int32()),
                     ("prefix", pa.string())]),
          {"archive_id": [x[0] for x in _ht],
           "rec_offset": [x[1] for x in _ht],
           "uri": [x[2] for x in _ht],
           "status": [x[3] for x in _ht],
           "mime": [x[4] for x in _ht],
           "charset": [x[5] for x in _ht],
           "had_bom": [x[6] for x in _ht],
           "n_chars": [x[7] for x in _ht],
           "prefix": [x[8] for x in _ht]})

    # ---- q_unigram_train / q_unigram_encode (SentencePiece-family
    #      tokenizer: substring seed -> hard-EM Viterbi -> pruned vocab;
    #      portable-ln scores make the doubles bit-exact) ----
    _ug = g.ug_train(doc_items)
    write("q_unigram_train",
          pa.schema([("rank", pa.int32()), ("piece", pa.string()),
                     ("count", pa.int64()), ("lnprob", pa.float64())]),
          {"rank": [x[0] for x in _ug],
           "piece": [x[1] for x in _ug],
           "count": [x[2] for x in _ug],
           "lnprob": [x[3] for x in _ug]})
    _uge = g.ug_encode_rows(doc_items, _ug)
    write("q_unigram_encode",
          pa.schema([("doc_id", pa.int64()), ("n_pieces", pa.int32()),
                     ("piece_preview", pa.string())]),
          {"doc_id": [x[0] for x in _uge],
           "n_pieces": [x[1] for x in _uge],
           "piece_preview": [x[2] for x in _uge]})

    # ---- q_blocklist (phrase-blocklist gate; token-boundary hits) ----
    _bl = g.bl_rows(doc_items)
    write("q_blocklist",
          pa.schema([("doc_id", pa.int64()), ("n_matches", pa.int32()),
                     ("n_phrases", pa.int32()), ("keep", pa.bool_())]),
          {"doc_id": [x[0] for x in _bl],
           "n_matches": [x[1] for x in _bl],
           "n_phrases": [x[2] for x in _bl],
           "keep": [x[3] for x in _bl]})

    # ---- q_wet (extracted-text conversion records: digest + length pin
    #      the full serialized bytes cross-engine) ----
    _wet = []
    for aid in sorted(_by_arc):
        pages = []
        for i, t in sorted(_by_arc[aid]):
            t = t if t is not None else ""
            html = g.wrap_html(g.noisy_render(t, i), g.url_for(i),
                               i).encode("utf-8")
            pages.append((i, html, g.url_for(i)))
        _wet.append(g.wet_row(g.warc_archive(pages), aid))
    write("q_wet",
          pa.schema([("archive_id", pa.int64()), ("n_records", pa.int32()),
                     ("wet_length", pa.int64()), ("wet_sha1", pa.string())]),
          {"archive_id": [x[0] for x in _wet],
           "n_records": [x[1] for x in _wet],
           "wet_length": [x[2] for x in _wet],
           "wet_sha1": [x[3] for x in _wet]})

    # ---- q_wat (metadata sidecar records: links + head metadata as the
    #      pinned JSON envelope subset; digest + length pin the bytes) ----
    _wat = []
    for aid in sorted(_by_arc):
        pages = []
        for i, t in sorted(_by_arc[aid]):
            t = t if t is not None else ""
            html = g.wrap_html(g.noisy_render(t, i), g.url_for(i),
                               i).encode("utf-8")
            pages.append((i, html, g.url_for(i)))
        _wat.append(g.wat_row(g.warc_archive(pages), aid))
    write("q_wat",
          pa.schema([("archive_id", pa.int64()), ("n_records", pa.int32()),
                     ("n_links", pa.int64()), ("wat_length", pa.int64()),
                     ("wat_sha1", pa.string())]),
          {"archive_id": [x[0] for x in _wat],
           "n_records": [x[1] for x in _wat],
           "n_links": [x[2] for x in _wat],
           "wat_length": [x[3] for x in _wat],
           "wat_sha1": [x[4] for x in _wat]})

    # ---- q_cdx_http (CDX over the HTTP archives: the duplicate-digest
    #      input table for q_cdx_dedup's DuckDB-window oracle) ----
    _cdxh = []
    for aid in sorted(_by_arc):
        blob = g.http_warc_archive(sorted(_by_arc[aid]))
        _cdxh.extend(g.cdx_rows(blob, aid))
    write("q_cdx_http",
          pa.schema([("archive_id", pa.int64()), ("urlkey", pa.string()),
                     ("uri", pa.string()), ("warc_date", pa.string()),
                     ("digest", pa.string()), ("rec_offset", pa.int64()),
                     ("rec_length", pa.int64())]),
          {"archive_id": [x[0] for x in _cdxh],
           "urlkey": [x[1] for x in _cdxh],
           "uri": [x[2] for x in _cdxh],
           "warc_date": [x[3] for x in _cdxh],
           "digest": [x[4] for x in _cdxh],
           "rec_offset": [x[5] for x in _cdxh],
           "rec_length": [x[6] for x in _cdxh]})

    # ---- q_cdx (crawl-index rows: SURT urlkey, sha1-b32 digest, byte
    #      spans over the plain archives) ----
    _cdx = []
    for aid in sorted(_by_arc):
        pages = []
        for i, t in sorted(_by_arc[aid]):
            t = t if t is not None else ""
            html = g.wrap_html(g.noisy_render(t, i), g.url_for(i),
                               i).encode("utf-8")
            pages.append((i, html, g.url_for(i)))
        _cdx.extend(g.cdx_rows(g.warc_archive(pages), aid))
    write("q_cdx",
          pa.schema([("archive_id", pa.int64()), ("urlkey", pa.string()),
                     ("uri", pa.string()), ("warc_date", pa.string()),
                     ("digest", pa.string()), ("rec_offset", pa.int64()),
                     ("rec_length", pa.int64())]),
          {"archive_id": [x[0] for x in _cdx],
           "urlkey": [x[1] for x in _cdx],
           "uri": [x[2] for x in _cdx],
           "warc_date": [x[3] for x in _cdx],
           "digest": [x[4] for x in _cdx],
           "rec_offset": [x[5] for x in _cdx],
           "rec_length": [x[6] for x in _cdx]})

    # ---- q_cdx_gz: FIRST write the binary .warc.gz fixture
    #      (fx_warc_gz.parquet — python-gzipped member-per-record blobs)
    #      that BOTH engines read, then the golden over it. This is the
    #      one committed SHARED-INPUT fixture: the Spark side must
    #      inflate python-compressed bytes, so the gz codecs are
    #      cross-verified at the byte level and the COMPRESSED spans are
    #      engine-independent. ----
    _gzfx = []
    _cdxgz = []
    for aid in sorted(_by_arc):
        parts = []
        for i, t in sorted(_by_arc[aid]):
            t = t if t is not None else ""
            html = g.wrap_html(g.noisy_render(t, i), g.url_for(i),
                               i).encode("utf-8")
            blob_plain = g.warc_archive([(i, html, g.url_for(i))])
            parts.append(gzip.compress(blob_plain, mtime=0))
        blob = b"".join(parts)
        _gzfx.append((aid, blob))
        _cdxgz.extend(g.cdx_gz_rows(blob, aid))
    write("fx_warc_gz",
          pa.schema([("archive_id", pa.int64()), ("data", pa.binary())]),
          {"archive_id": [x[0] for x in _gzfx],
           "data": [x[1] for x in _gzfx]})
    write("q_cdx_gz",
          pa.schema([("archive_id", pa.int64()), ("urlkey", pa.string()),
                     ("uri", pa.string()), ("warc_date", pa.string()),
                     ("digest", pa.string()), ("rec_offset", pa.int64()),
                     ("rec_length", pa.int64())]),
          {"archive_id": [x[0] for x in _cdxgz],
           "urlkey": [x[1] for x in _cdxgz],
           "uri": [x[2] for x in _cdxgz],
           "warc_date": [x[3] for x in _cdxgz],
           "digest": [x[4] for x in _cdxgz],
           "rec_offset": [x[5] for x in _cdxgz],
           "rec_length": [x[6] for x in _cdxgz]})

    # ---- q_warc_charset (archive -> record split -> charset sniff +
    #      decode over mixed-encoding payloads; full ingest head) ----
    _wc = []
    for aid in sorted(_by_arc):
        pages = [(i, g.cs_payload(i, t), g.url_for(i))
                 for i, t in sorted(_by_arc[aid])]
        blob = g.warc_archive(pages)
        for (off, _rt, uri, _dt, cl, payload) in g.warc_parse(blob):
            cs, bom, text = g.cs_decode(payload)
            _wc.append((aid, off, uri, cl, cs, bom, len(text), text[:48]))
    write("q_warc_charset",
          pa.schema([("archive_id", pa.int64()), ("rec_offset", pa.int64()),
                     ("uri", pa.string()), ("content_length", pa.int64()),
                     ("charset", pa.string()), ("had_bom", pa.bool_()),
                     ("n_chars", pa.int32()), ("prefix", pa.string())]),
          {"archive_id": [x[0] for x in _wc],
           "rec_offset": [x[1] for x in _wc],
           "uri": [x[2] for x in _wc],
           "content_length": [x[3] for x in _wc],
           "charset": [x[4] for x in _wc],
           "had_bom": [x[5] for x in _wc],
           "n_chars": [x[6] for x in _wc],
           "prefix": [x[7] for x in _wc]})

    # ---- q_align_spans ----
    rows = [(r["url"],) + sp for r in results for sp in r["spans"]]
    write("q_align_spans",
          pa.schema([("url", pa.string()), ("seq", pa.int32()), ("syl", pa.string()),
                     ("ulx", pa.int32()), ("uly", pa.int32()),
                     ("lrx", pa.int32()), ("lry", pa.int32())]),
          {"url": [x[0] for x in rows], "seq": [x[1] for x in rows],
           "syl": [x[2] for x in rows], "ulx": [x[3] for x in rows],
           "uly": [x[4] for x in rows], "lrx": [x[5] for x in rows],
           "lry": [x[6] for x in rows]})

    # ---- q_align_metrics ----
    write("q_align_metrics",
          pa.schema([("url", pa.string()), ("n_spans", pa.int32()),
                     ("tra_len", pa.int32()), ("ocr_len", pa.int32()),
                     ("edit_distance", pa.int32()), ("gap_count", pa.int32()),
                     ("error", pa.string())]),
          {"url": [r["url"] for r in results],
           "n_spans": [r["metrics"][0] for r in results],
           "tra_len": [r["metrics"][1] for r in results],
           "ocr_len": [r["metrics"][2] for r in results],
           "edit_distance": [r["metrics"][3] for r in results],
           "gap_count": [r["metrics"][4] for r in results],
           "error": ["" for _ in results]})

    # ---- q_doc_json ----
    write("q_doc_json",
          pa.schema([("url", pa.string()), ("syl_boxes", pa.string())]),
          {"url": [r["url"] for r in results],
           "syl_boxes": [r["doc_json"] for r in results]})

    # ---- q_syllabify ----
    srows = [(r["doc_id"], i, s) for r in results for i, s in enumerate(r["syls"])]
    write("q_syllabify",
          pa.schema([("doc_id", pa.int64()), ("pos", pa.int32()), ("syl", pa.string())]),
          {"doc_id": [x[0] for x in srows], "pos": [x[1] for x in srows],
           "syl": [x[2] for x in srows]})

    # ---- q_parse_transcript ----
    prow = [(r["doc_id"], i, s, f) for r in results
            for i, (s, f) in enumerate(zip(*r["pt"]))]
    write("q_parse_transcript",
          pa.schema([("doc_id", pa.int64()), ("pos", pa.int32()),
                     ("syl", pa.string()), ("word_begin", pa.int32())]),
          {"doc_id": [x[0] for x in prow], "pos": [x[1] for x in prow],
           "syl": [x[2] for x in prow], "word_begin": [x[3] for x in prow]})

    # ---- q_eval_alignment ----
    write("q_eval_alignment",
          pa.schema([("url", pa.string()), ("mean_iou", pa.float64()),
                     ("mean_range_iou", pa.float64()), ("n_gt_spans", pa.int32())]),
          {"url": [r["url"] for r in results],
           "mean_iou": [r["eval"][0] for r in results],
           "mean_range_iou": [r["eval"][1] for r in results],
           "n_gt_spans": [r["eval"][2] for r in results]})

    # ---- q_grid_search (first 3 docs, reference DP per combo) ----
    fixtures = []
    for doc_id, text in doc_items[:3]:
        tra = parse_cantus_csv.clean(text)
        fixtures.append((tra, g.noisy_render(tra, doc_id)))
    gt_per_fixture = []
    for tra, noisy in fixtures:
        _, _, _, boxes = ref_oracle.process(tra, noisy)
        gt_per_fixture.append([(i, s, ul[0], ul[1], lr[0], lr[1])
                               for i, (s, ul, lr) in enumerate(boxes)])
    grid = [(m, mm, gox, goy, gex, gey)
            for m in (5, 8, 11) for mm in (-4, -7, -10)
            for gox in (-2, -5, -7) for goy in (-2, -5, -7)
            for gex in (0, -3, -5) for gey in (0, -3, -5)]
    with Pool(min(32, os.cpu_count())) as pool:
        grows = pool.map(grid_combo,
                         [(c, fixtures, gt_per_fixture) for c in grid],
                         chunksize=8)
    write("q_grid_search",
          pa.schema([("match", pa.int32()), ("mismatch", pa.int32()),
                     ("gap_open_x", pa.int32()), ("gap_open_y", pa.int32()),
                     ("gap_extend_x", pa.int32()), ("gap_extend_y", pa.int32()),
                     ("mean_score", pa.float64())]),
          {"match": [x[0] for x in grows], "mismatch": [x[1] for x in grows],
           "gap_open_x": [x[2] for x in grows], "gap_open_y": [x[3] for x in grows],
           "gap_extend_x": [x[4] for x in grows], "gap_extend_y": [x[5] for x in grows],
           "mean_score": [x[6] for x in grows]})

    # ---- q_langid ----
    from collections import Counter
    cnt = Counter((lang, g.lang_id(text))
                  for lang, text in zip(docs.lang.tolist(), docs.text.tolist()))
    lrows = sorted(cnt.items())
    write("q_langid",
          pa.schema([("lang", pa.string()), ("predicted", pa.string()),
                     ("cnt", pa.int64())]),
          {"lang": [k[0] for k, _ in lrows], "predicted": [k[1] for k, _ in lrows],
           "cnt": [v for _, v in lrows]})

    # ---- q_fingerprint ----
    write("q_fingerprint",
          pa.schema([("doc_id", pa.int64()), ("fp", pa.int64())]),
          {"doc_id": docs.doc_id.tolist(),
           "fp": [g.fingerprint(t) for t in docs.text.tolist()]})

    # ---- q_stratified_sample (hash-gate quota sampling; mirrors
    #      graft.ops.Sampling.stratifiedSample with graft.catalog.RelationalQueries' quotas) ----
    quotas = {"en": 0.25, "zh": 0.5, "de": 1.0}
    # threshold mirror of Sampling.stratifiedSample: floor(q*1e6 + 0.5)
    thresholds = {k: int(math.floor(q * 1e6 + 0.5)) for k, q in quotas.items()}
    strows = [(int(i), l) for i, l in zip(docs.doc_id.tolist(), docs.lang.tolist())
              if g.mix(int(i)) % 1000000 < thresholds.get(l, 0)]
    write("q_stratified_sample",
          pa.schema([("doc_id", pa.int64()), ("lang", pa.string())]),
          {"doc_id": [x[0] for x in strows], "lang": [x[1] for x in strows]})

    # ---- q_domain_sample (domain-keyed hash-gate quota sampling; mirrors
    #      graft.catalog.CrawlQueries.docsWithIntlUrls + the PSL-aware
    #      Domains.registeredDomain + the same Sampling gate keyed on
    #      registered domain). The suffix matching here is an INDEPENDENT
    #      implementation (longest endswith over the suffix table, not the
    #      Spark side's regexp) — only the suffix DATA is shared. The list
    #      holds the fixture-relevant subset plus decoys that must NOT match.
    psl_multi = ["co.uk", "org.uk", "ac.uk", "com.au", "net.au", "edu.au",
                 "ac.jp", "co.jp", "or.jp", "com.br", "co.in", "co.za"]
    # PSL wildcard bases (*.base: one label matched by the star) and
    # exception rules (!rule), label-walked independently of the Spark
    # side's regex cascade — fixture-relevant subset plus decoys.
    psl_wild = ["ck", "bd", "kawasaki.jp"]
    psl_exc = ["www.ck", "city.kawasaki.jp"]
    def registered_domain(doc_id, source):
        sub = "www." if doc_id % 3 == 0 else ("cdn." if doc_id % 3 == 1 else "")
        tld = [".org", ".co.uk", ".com.au", ".ac.jp",
               ".xx.ck", ".www.ck"][doc_id % 6]
        host = sub + source + "-site" + tld
        labels = host.split(".")
        # exception rules take priority over everything: the registered
        # domain of a host ending in the rule is the rule itself
        for e in psl_exc:
            el = e.split(".")
            if len(labels) >= len(el) and labels[-len(el):] == el:
                return e
        # prevailing rule = most labels (wildcard counts its star label)
        best_n = 0
        for s in psl_multi:
            sl = s.split(".")
            if len(labels) > len(sl) and labels[-len(sl):] == sl:
                best_n = max(best_n, len(sl))
        for w in psl_wild:
            wl = w.split(".")
            if len(labels) > len(wl) + 1 and labels[-len(wl):] == wl:
                best_n = max(best_n, len(wl) + 1)
        if best_n > 0:
            return ".".join(labels[-(best_n + 1):])
        return ".".join(labels[-2:])
    dquotas = {"src0-site.org": 0.5, "src7-site.co.uk": 1.0,
               "src13-site.co.uk": 0.25, "src19-site.ac.jp": 0.125,
               "src2-site.com.au": 0.5, "src8-site.xx.ck": 0.5,
               "www.ck": 0.25}
    dthresholds = {k: int(math.floor(q * 1e6 + 0.5)) for k, q in dquotas.items()}
    dsrc = pq.read_table(os.path.join(sf_dir, "documents.parquet"),
                         columns=["doc_id", "source"]).to_pandas()
    dsrc = dsrc.sort_values("doc_id").reset_index(drop=True)
    drows = [(int(i), registered_domain(int(i), s))
             for i, s in zip(dsrc.doc_id.tolist(), dsrc.source.tolist())
             if g.mix(int(i)) % 1000000 < dthresholds.get(
                 registered_domain(int(i), s), 0)]
    write("q_domain_sample",
          pa.schema([("doc_id", pa.int64()), ("domain", pa.string())]),
          {"doc_id": [x[0] for x in drows], "domain": [x[1] for x in drows]})

    # ---- q_quantile_bucket (deterministic-sample quantile bucketing;
    #      mirrors Sampling.bucketByScore: same gate, same floor(i*n/B)
    #      threshold indices, ties promote upward) ----
    qrows = [(int(i), float(len(t))) for i, t in doc_items]
    qsample = sorted(s for i, s in qrows if g.mix(i) % 1000000 < 200000)
    qn = len(qsample)
    qthr = [qsample[(i * qn) // 4] for i in range(1, 4)]
    write("q_quantile_bucket",
          pa.schema([("doc_id", pa.int64()), ("score", pa.float64()),
                     ("bucket", pa.int32())]),
          {"doc_id": [r[0] for r in qrows],
           "score": [r[1] for r in qrows],
           "bucket": [sum(1 for t in qthr if r[1] >= t) for r in qrows]})

    # ---- q_mix_weights (corpus mixing to target proportions; mirrors
    #      Sampling.mixToWeights: exact counts -> T = min(c/w) ->
    #      quota = w*T/c -> the same stratifiedSample gate) ----
    mweights = {"en": 0.5, "es": 0.25, "de": 0.25}
    lrows = [(int(i), l) for i, l in zip(docs.doc_id.tolist(), docs.lang.tolist())]
    mcounts = {}
    for _, l in lrows:
        if l in mweights:
            mcounts[l] = mcounts.get(l, 0) + 1
    mt = min(mcounts[s] / w for s, w in mweights.items())
    mquotas = {s: w * mt / mcounts[s] for s, w in mweights.items()}
    mthresholds = {s: int(math.floor(q * 1e6 + 0.5)) for s, q in mquotas.items()}
    mrows = [(i, l) for i, l in lrows
             if g.mix(i) % 1000000 < mthresholds.get(l, 0)]
    write("q_mix_weights",
          pa.schema([("doc_id", pa.int64()), ("lang", pa.string())]),
          {"doc_id": [x[0] for x in mrows], "lang": [x[1] for x in mrows]})

    # ---- q_upsample (repetition-weight upsampling; mirrors
    #      Sampling.upsampleToWeights: floor(w) copies + one behind the
    #      SALTED frac(w) hash gate — domain-separated from the keep-gates
    #      so drop-then-upsample composes; absent strata weight 1.0) ----
    UPSAMPLE_SALT = 0x7570736D
    uweights = {"en": 2.5, "es": 0.25, "de": 1.0}
    urows = []
    for i, l in lrows:
        w = uweights.get(l, 1.0)
        n = int(math.floor(w))
        if g.mix(i ^ UPSAMPLE_SALT) % 1000000 < int(math.floor((w - math.floor(w)) * 1e6 + 0.5)):
            n += 1
        for c in range(n):
            urows.append((i, l, c))
    write("q_upsample",
          pa.schema([("doc_id", pa.int64()), ("lang", pa.string()),
                     ("copy", pa.int32())]),
          {"doc_id": [x[0] for x in urows], "lang": [x[1] for x in urows],
           "copy": [x[2] for x in urows]})

    # ---- q_curate (end-to-end composition: latest-capture -> quality gate
    #      -> normalized dedup -> mixing; every stage mirrored here
    #      independently of the Spark ops) ----
    import re as _re

    def _curate_norm(t):
        t = _re.sub('[^a-z0-9 ]', ' ', t.lower())
        return _re.sub(' {2,}', ' ', t).strip()

    def _curate_keep(t):
        toks = [x for x in t.split(' ') if x]
        n = len(toks)
        nc = len(t)
        if n == 0 or nc == 0:
            return False
        mean_tl = (nc - t.count(' ')) / n
        alpha = len(_re.sub('[^a-z]', '', t)) / nc
        ttr = len(set(toks)) / n
        return not (n < 20 or n > 100000 or mean_tl < 2.0 or mean_tl > 12.0
                    or ttr < 0.2 or alpha < 0.6)

    csrc = pq.read_table(os.path.join(sf_dir, "documents.parquet"),
                         columns=["doc_id", "text", "lang", "source"]).to_pandas()
    csrc = csrc.sort_values("doc_id").reset_index(drop=True)

    def _curate_url(i, source):
        sub = "www." if i % 3 == 0 else ("cdn." if i % 3 == 1 else "")
        return "https://" + sub + source + "-site.org/p/" + str(i)

    caps = []
    for i, t, l, srcn in zip(csrc.doc_id.tolist(), csrc.text.tolist(),
                             csrc.lang.tolist(), csrc.source.tolist()):
        i = int(i)
        u = _curate_url(i, srcn)
        ts = 1700000000000000 + i * 1000000
        caps.append((u, ts, i, l, t))
        if i % 10 == 3:
            caps.append((u + "/alt", ts, i + 3000000, l, t + " !!"))
        if i % 5 == 0:
            caps.append((u, ts + 86400000000, i, l, "recrawled " + t))
    latest = {}
    for u, ts, i, l, t in caps:
        if u not in latest or ts > latest[u][0]:
            latest[u] = (ts, i, l, t)
    kept = [(i, l, _curate_norm(t)) for ts, i, l, t in latest.values()
            if _curate_keep(t)]
    by_norm = {}
    for i, l, nt in kept:
        if nt not in by_norm or i < by_norm[nt][0]:
            by_norm[nt] = (i, l)
    deduped = sorted(by_norm.values())
    cweights = {"en": 0.5, "es": 0.25, "de": 0.25}
    ccounts = {}
    for i, l in deduped:
        if l in cweights:
            ccounts[l] = ccounts.get(l, 0) + 1
    ct = min(ccounts[s0] / w for s0, w in cweights.items())
    cthr = {s0: int(math.floor(w * ct / ccounts[s0] * 1e6 + 0.5))
            for s0, w in cweights.items()}
    crows = [(i, l) for i, l in deduped
             if g.mix(i) % 1000000 < cthr.get(l, 0)]
    write("q_curate",
          pa.schema([("doc_id", pa.int64()), ("lang", pa.string())]),
          {"doc_id": [x[0] for x in crows], "lang": [x[1] for x in crows]})

    # ---- q_compress_ratio (deflate-6 raw-stream ratio; CPython zlib and
    #      JDK Deflater both wrap zlib — byte-length parity probe-verified) ----
    import zlib as _zlib

    def _deflate_len(t):
        c = _zlib.compressobj(6, _zlib.DEFLATED, -15)
        return len(c.compress(t.encode("utf-8")) + c.flush())

    zr = [(int(i), len(t.encode("utf-8")), _deflate_len(t))
          for i, t in doc_items]
    write("q_compress_ratio",
          pa.schema([("doc_id", pa.int64()), ("n_bytes", pa.int64()),
                     ("n_deflate_bytes", pa.int64()),
                     ("deflate_ratio", pa.float64())]),
          {"doc_id": [x[0] for x in zr],
           "n_bytes": [x[1] for x in zr],
           "n_deflate_bytes": [x[2] for x in zr],
           "deflate_ratio": [x[2] / x[1] if x[1] else 0.0 for x in zr]})

    # ---- q_pack_greedy (first-fit-decreasing packing; mirrors
    #      graft.ops.Packing.greedyPack(capacity=64, nBuckets=8): bucket =
    #      first 16 md5 bits of the doc_id string mod 8, in-bucket order
    #      (n_tokens DESC, doc_id ASC), oversized docs bin = -1) ----
    import hashlib as _hashlib
    _cap, _nb = 64, 8
    _pk = []
    for i, t in doc_items:
        n = len([x for x in t.split(" ") if x])
        b = int(_hashlib.md5(str(int(i)).encode()).hexdigest()[:4], 16) % _nb
        _pk.append((int(i), n, b))
    _packed = []
    for b in range(_nb):
        group = sorted((r for r in _pk if r[2] == b),
                       key=lambda r: (-r[1], r[0]))
        loads = []
        for (i, n, _) in group:
            if n > _cap:
                _packed.append((i, n, b, -1))
                continue
            j = 0
            while j < len(loads) and loads[j] + n > _cap:
                j += 1
            if j == len(loads):
                loads.append(n)
            else:
                loads[j] += n
            _packed.append((i, n, b, j))
    _packed.sort()
    write("q_pack_greedy",
          pa.schema([("doc_id", pa.int64()), ("n_tokens", pa.int64()),
                     ("bucket", pa.int32()), ("bin", pa.int32())]),
          {"doc_id": [r[0] for r in _packed],
           "n_tokens": [r[1] for r in _packed],
           "bucket": [r[2] for r in _packed],
           "bin": [r[3] for r in _packed]})

    # ---- q_bpe_train (iterated BPE merges; mirrors graft.ops.Bpe.train
    #      with numMerges=10: argmax ties (count DESC, left ASC, right ASC),
    #      left-to-right non-overlapping merge application) ----
    from collections import Counter as _Counter
    _wf = _Counter()
    for _, t in doc_items:
        for w in t.split(" "):
            if w:
                _wf[w] += 1
    _vocab = {w: list(w) for w in _wf}
    _bpe = []
    for _k in range(1, 11):
        _pc = _Counter()
        for w, f in _wf.items():
            s = _vocab[w]
            for a, b in zip(s, s[1:]):
                _pc[(a, b)] += f
        if not _pc:
            break
        (_l, _r), _cnt = min(_pc.items(),
                             key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))

        def _merge(s, l=_l, r=_r):
            out, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == l and s[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            return out
        _vocab = {w: _merge(s) for w, s in _vocab.items()}
        _bpe.append((_k, _l, _r, _l + _r, _cnt))
    # ---- q_bpe_encode (train->encode round trip: per-doc piece counts
    #      under the independently trained merge list; a training word's
    #      encode == its final trainer segmentation, so sum vocab lengths) ----
    _enc_rows = []
    for i, t in doc_items:
        total = 0
        for w in t.split(" "):
            if w:
                total += len(_vocab[w])
        _enc_rows.append((int(i), total))
    write("q_bpe_encode",
          pa.schema([("doc_id", pa.int64()), ("n_pieces", pa.int64())]),
          {"doc_id": [x[0] for x in _enc_rows],
           "n_pieces": [x[1] for x in _enc_rows]})

    # ---- q_tokenizer_pipeline (composition: train -> encode -> chunk
    #      index by PIECES at C=256; doc_items is doc_id-sorted so the
    #      running sum is the document-order prefix sum) ----
    _C = 256
    _cum = 0
    _tp_rows = []
    for doc_id, n in _enc_rows:
        start = _cum
        _cum += n
        _tp_rows.append((doc_id, n, start,
                         start // _C if n > 0 else None,
                         (_cum - 1) // _C if n > 0 else None,
                         start % _C))
    write("q_tokenizer_pipeline",
          pa.schema([("doc_id", pa.int64()), ("n_pieces", pa.int64()),
                     ("global_start", pa.int64()), ("chunk_first", pa.int64()),
                     ("chunk_last", pa.int64()), ("chunk_offset", pa.int64())]),
          {"doc_id": [x[0] for x in _tp_rows],
           "n_pieces": [x[1] for x in _tp_rows],
           "global_start": [x[2] for x in _tp_rows],
           "chunk_first": [x[3] for x in _tp_rows],
           "chunk_last": [x[4] for x in _tp_rows],
           "chunk_offset": [x[5] for x in _tp_rows]})

    write("q_bpe_train",
          pa.schema([("merge_rank", pa.int32()), ("left", pa.string()),
                     ("right", pa.string()), ("merged", pa.string()),
                     ("pair_count", pa.int64())]),
          {"merge_rank": [x[0] for x in _bpe],
           "left": [x[1] for x in _bpe],
           "right": [x[2] for x in _bpe],
           "merged": [x[3] for x in _bpe],
           "pair_count": [x[4] for x in _bpe]})

    # ---- q_wordpiece_train + q_wordpiece_encode (likelihood-gain merges
    #      + greedy longest-match inference; clean-room graftpy mirror) ----
    _wp_merges = g.wp_train_local(dict(_wf), 10)
    write("q_wordpiece_train",
          pa.schema([("merge_rank", pa.int32()), ("left", pa.string()),
                     ("right", pa.string()), ("token", pa.string()),
                     ("pair_count", pa.int64()), ("left_count", pa.int64()),
                     ("right_count", pa.int64())]),
          {"merge_rank": [x[0] for x in _wp_merges],
           "left": [x[1] for x in _wp_merges],
           "right": [x[2] for x in _wp_merges],
           "token": [x[3] for x in _wp_merges],
           "pair_count": [x[4] for x in _wp_merges],
           "left_count": [x[5] for x in _wp_merges],
           "right_count": [x[6] for x in _wp_merges]})
    _wp_vocab = g.wp_model(dict(_wf), 10, min_sym_count=2)
    _wp_max = max(max(len(g.wp_strip(p)) for p in _wp_vocab), 1) \
        if _wp_vocab else 1
    _wp_rows = []
    for i, t in doc_items:
        n = unk = 0
        preview = []
        for w in t.split(" "):
            if w:
                for p in g.wp_encode(w, _wp_vocab, _wp_max):
                    if len(preview) < 12:
                        preview.append(p)
                    n += 1
                    if p == g.WP_UNK:
                        unk += 1
        _wp_rows.append((int(i), n, unk, "|".join(preview)))
    write("q_wordpiece_encode",
          pa.schema([("doc_id", pa.int64()), ("n_pieces", pa.int64()),
                     ("n_unk", pa.int64()), ("piece_preview", pa.string())]),
          {"doc_id": [x[0] for x in _wp_rows],
           "n_pieces": [x[1] for x in _wp_rows],
           "n_unk": [x[2] for x in _wp_rows],
           "piece_preview": [x[3] for x in _wp_rows]})

    # ---- q_dsir (importance-resampling selection vs the en slice;
    #      clean-room graftpy mirror, bit-identical doubles) ----
    _langs = docs.lang.tolist()
    _ds = g.ds_select(
        [(int(i), t, l == "en") for (i, t), l in zip(doc_items, _langs)], 100)
    write("q_dsir",
          pa.schema([("doc_id", pa.int64()), ("log_weight", pa.float64()),
                     ("gumbel", pa.float64()), ("score", pa.float64()),
                     ("selected", pa.bool_())]),
          {"doc_id": [x[0] for x in _ds],
           "log_weight": [x[1] for x in _ds],
           "gumbel": [x[2] for x in _ds],
           "score": [x[3] for x in _ds],
           "selected": [x[4] for x in _ds]})

    # ---- q_feeds (RSS/Atom entry extraction over the feed fixture) ----
    _fd_rows = []
    for i, t in doc_items:
        kind, es = g.fd_parse(g.fd_xml_for(int(i), t))
        u = "https://feeds.example.org/f%d.xml" % i
        for (seq, title, link, eid, pub) in es:
            _fd_rows.append((u, kind, seq, title, link, eid, pub))
    write("q_feeds",
          pa.schema([("feed_url", pa.string()), ("kind", pa.string()),
                     ("seq", pa.int32()), ("title", pa.string()),
                     ("link", pa.string()), ("entry_id", pa.string()),
                     ("published", pa.string())]),
          {k: [x[j] for x in _fd_rows] for j, k in enumerate(
              ["feed_url", "kind", "seq", "title", "link", "entry_id",
               "published"])})

    # ---- q_script_mix (writing-system counts over the transliterated
    #      fixture; pinned Unicode ranges, integer mixed-flag rule) ----
    _sc = [g.sc_mix(int(i), g.sc_text(int(i), l, t))
           for (i, t), l in zip(doc_items, docs.lang.tolist())]
    write("q_script_mix",
          pa.schema([("doc_id", pa.int64()), ("n_arabic", pa.int64()),
                     ("n_cyrillic", pa.int64()), ("n_greek", pa.int64()),
                     ("n_han", pa.int64()), ("n_latin", pa.int64()),
                     ("n_letters", pa.int64()),
                     ("dominant_script", pa.string()),
                     ("is_mixed", pa.bool_())]),
          {k: [x[j] for x in _sc] for j, k in enumerate(
              ["doc_id", "n_arabic", "n_cyrillic", "n_greek", "n_han",
               "n_latin", "n_letters", "dominant_script", "is_mixed"])})

    # ---- q_shard_drift (per-source KL drift over the hashed buckets) ----
    _srcs = docs.source.tolist()
    _dd = g.ds_divergence(
        [(int(i), t, sc) for (i, t), sc in zip(doc_items, _srcs)])
    write("q_shard_drift",
          pa.schema([("shard", pa.string()), ("n_features", pa.int64()),
                     ("kl_nats", pa.float64())]),
          {"shard": [x[0] for x in _dd],
           "n_features": [x[1] for x in _dd],
           "kl_nats": [x[2] for x in _dd]})

    # ---- near-dup corpus: docs ∪ mutated every-10th (SparkEntry.docsWithNearDups) ----
    near = {int(i): t for i, t in doc_items}
    for doc_id, text in doc_items:
        if doc_id % 10 == 0:
            toks = text.split(" ")
            kept = [t for i, t in enumerate(toks) if (i + doc_id) % 37 != 0]
            near[int(doc_id) + 1000000] = " ".join(kept)

    # ---- q_winnow_dedup (pairs orig vs mutated, sim >= 0.3) ----
    wrows = []
    for doc_id, text in doc_items:
        if doc_id % 10 == 0:
            sim = g.winnow_similarity(text, near[doc_id + 1000000])
            if sim >= 0.3:
                wrows.append((int(doc_id), int(doc_id) + 1000000, sim))
    write("q_winnow_dedup",
          pa.schema([("doc_a", pa.int64()), ("doc_b", pa.int64()),
                     ("winnow_sim", pa.float64())]),
          {"doc_a": [x[0] for x in wrows], "doc_b": [x[1] for x in wrows],
           "winnow_sim": [x[2] for x in wrows]})

    # ---- q_minhash_dedup (bands=16, rpb=4, shingleN=3, cap=1000, th=0.5) ----
    bands, rpb = 16, 4
    buckets = {}
    for did, text in near.items():
        sig = g.minhash_signature(text, bands * rpb, 3)
        for b, key in enumerate(g.minhash_band_keys(sig, bands, rpb)):
            buckets.setdefault((b, key), []).append(did)
    cand = g.bucket_pairs(buckets.values(), 1000)
    mrows = []
    for a, b in sorted(cand):
        j = g.jaccard(near[a], near[b], 3)
        if j >= 0.5:
            mrows.append((a, b, j))
    write("q_minhash_dedup",
          pa.schema([("doc_a", pa.int64()), ("doc_b", pa.int64()),
                     ("jaccard", pa.float64())]),
          {"doc_a": [x[0] for x in mrows], "doc_b": [x[1] for x in mrows],
           "jaccard": [x[2] for x in mrows]})

    # ---- q_minhash_join (cross-corpus fuzzy decontamination; bands=16,
    #      rpb=4, shingleN=3, cap=1000/side, th=0.5; eval = every 17th doc
    #      with every 41st token dropped, re-identified +9000000) ----
    _evalset = {}
    for did, text in doc_items:
        if did % 17 == 0:
            toks = text.split(" ")
            kept = [t for i, t in enumerate(toks) if (i + did) % 41 != 0]
            _evalset[int(did) + 9000000] = " ".join(kept)
    _lmap = {int(d): t for d, t in doc_items}
    _lb, _rb = {}, {}
    for did, text in _lmap.items():
        sig = g.minhash_signature(text, 64, 3)
        for b, key in enumerate(g.minhash_band_keys(sig, 16, 4)):
            _lb.setdefault((b, key), []).append(did)
    for rid, text in _evalset.items():
        sig = g.minhash_signature(text, 64, 3)
        for b, key in enumerate(g.minhash_band_keys(sig, 16, 4)):
            _rb.setdefault((b, key), []).append(rid)
    _candx = set()
    for bk, lids in _lb.items():
        rids = _rb.get(bk)
        if rids and len(lids) <= 1000 and len(rids) <= 1000:
            for a in lids:
                for b in rids:
                    _candx.add((a, b))
    _jrows = []
    for a, b in sorted(_candx):
        j = g.jaccard(_lmap[a], _evalset[b], 3)
        if j >= 0.5:
            _jrows.append((a, b, j))
    write("q_minhash_join",
          pa.schema([("left_id", pa.int64()), ("right_id", pa.int64()),
                     ("jaccard", pa.float64())]),
          {"left_id": [x[0] for x in _jrows],
           "right_id": [x[1] for x in _jrows],
           "jaccard": [x[2] for x in _jrows]})

    # ---- q_decontam_drop (decontamination consumer: training docs with NO
    #      eval match >= threshold — mirrors join + drop independently) ----
    _contaminated = {a for a, _, _ in _jrows}
    _survivors = sorted(d for d in _lmap if d not in _contaminated)
    write("q_decontam_drop",
          pa.schema([("doc_id", pa.int64())]),
          {"doc_id": _survivors})

    # ---- q_simhash_dedup (chunks=8, keyChunks=2 Manku combos, maxHamming=7,
    #      median-adaptive cap — mirrors Dedup.simhashNearDups) ----
    from itertools import combinations
    sigs = {did: g.simhash(t) for did, t in near.items()}
    sbuckets = {}
    for did, sig in sigs.items():
        for ci, combo in enumerate(combinations(range(8), 2)):
            key = 0
            for pos, c in enumerate(combo):
                key |= ((sig >> (c * 8)) & 0xFF) << (pos * 8)
            sbuckets.setdefault((ci, key), []).append(did)
    # NOTE: Spark uses percentile_approx(0.5) while this mirror uses the
    # exact upper median — identical as long as 8*median < maxBucketSize
    # (true at sf0.01 by a wide margin); if goldens are ever generated at a
    # scale where the adaptive cap binds, align the two median definitions.
    sizes = sorted(len(v) for v in sbuckets.values())
    median = sizes[len(sizes) // 2] if sizes else 0
    scap = max(1000, 8 * median)
    scand = g.bucket_pairs(sbuckets.values(), scap)
    hrows = []
    for a, b in sorted(scand):
        ham = bin(sigs[a] ^ sigs[b]).count("1")
        if ham <= 7:
            hrows.append((a, b, ham))
    write("q_simhash_dedup",
          pa.schema([("doc_a", pa.int64()), ("doc_b", pa.int64()),
                     ("hamming", pa.int32())]),
          {"doc_a": [x[0] for x in hrows], "doc_b": [x[1] for x in hrows],
           "hamming": [x[2] for x in hrows]})

    # ---- q_pipeline (full training-data composition: near-dup survivors
    #      over minhash ∪ simhash clusters -> quality gate -> BPE encode
    #      under the independently trained vocab -> chunk index at C=256;
    #      every stage mirrored here, none via Spark) ----
    _parent = {}
    def _find(x):
        while _parent.get(x, x) != x:
            _parent[x] = _parent.get(_parent[x], _parent[x])
            x = _parent[x]
        return x
    def _union(a, b):
        ra, rb = _find(a), _find(b)
        if ra != rb:
            if ra < rb:
                _parent[rb] = ra
            else:
                _parent[ra] = rb
    for a, b, _ in mrows:
        _union(a, b)
    for a, b, _ in hrows:
        _union(a, b)
    _members = set(_parent.keys())
    _pl_survivors = sorted(d for d in near
                           if d not in _members or _find(d) == d)
    _pl_quality = [d for d in _pl_survivors if _curate_keep(near[d])]
    _pl_counts = []
    for d in _pl_quality:
        total = 0
        for w in near[d].split(" "):
            if w:
                total += len(_vocab[w])
        _pl_counts.append((d, total))
    _plC = 256
    _pl_cum = 0
    _pl_rows = []
    for doc_id, n in _pl_counts:
        start = _pl_cum
        _pl_cum += n
        _pl_rows.append((doc_id, n, start,
                         start // _plC if n > 0 else None,
                         (_pl_cum - 1) // _plC if n > 0 else None,
                         start % _plC))
    write("q_pipeline",
          pa.schema([("doc_id", pa.int64()), ("n_pieces", pa.int64()),
                     ("global_start", pa.int64()), ("chunk_first", pa.int64()),
                     ("chunk_last", pa.int64()), ("chunk_offset", pa.int64())]),
          {"doc_id": [x[0] for x in _pl_rows],
           "n_pieces": [x[1] for x in _pl_rows],
           "global_start": [x[2] for x in _pl_rows],
           "chunk_first": [x[3] for x in _pl_rows],
           "chunk_last": [x[4] for x in _pl_rows],
           "chunk_offset": [x[5] for x in _pl_rows]})

    # ---- q_media_features ----
    write("q_media_features",
          pa.schema([("media_id", pa.int64()), ("kind", pa.string()),
                     ("n_bytes", pa.int32()), ("frames_sampled", pa.int32())]),
          {"media_id": docs.doc_id.tolist(),
           "kind": [g.media_kind(i) for i in docs.doc_id.tolist()],
           "n_bytes": [len(t.encode("utf-8")) for t in docs.text.tolist()],
           "frames_sampled": [g.sample_frame_count(g.media_kind(i), len(t.encode("utf-8")))
                              for i, t in doc_items]})

    # ---- q_repetition (Gopher top-ngram char fractions + dup-line/para
    #      fractions over the deterministically reflowed corpus) ----
    reflowed = [g.reflow_for_repetition(t) for t in docs.text.tolist()]
    write("q_repetition",
          pa.schema([("doc_id", pa.int64()),
                     ("top2gram_char_frac", pa.float64()),
                     ("top3gram_char_frac", pa.float64()),
                     ("top4gram_char_frac", pa.float64()),
                     ("dup_line_char_frac", pa.float64()),
                     ("dup_para_char_frac", pa.float64())]),
          {"doc_id": docs.doc_id.tolist(),
           "top2gram_char_frac": [g.top_ngram_char_fraction(t, 2) for t in reflowed],
           "top3gram_char_frac": [g.top_ngram_char_fraction(t, 3) for t in reflowed],
           "top4gram_char_frac": [g.top_ngram_char_fraction(t, 4) for t in reflowed],
           "dup_line_char_frac": [g.dup_line_char_fraction(t) for t in reflowed],
           "dup_para_char_frac": [g.dup_para_char_fraction(t) for t in reflowed]})

    # ---- embeddings-based queries ----
    emb_tbl = pq.read_table(os.path.join(sf_dir, "embeddings.parquet"),
                            columns=["vec_id", "embedding"])
    vec_ids = emb_tbl.column("vec_id").to_pylist()
    embs = [np.array(v, dtype=np.float32) for v in emb_tbl.column("embedding").to_pylist()]
    by_id = dict(zip(vec_ids, embs))
    dim = len(embs[0])

    # ---- q_rp_reduce (JL 64-d -> 16-d; pinned fold order, bit-exact) ----
    _rp = g.jl_reduce_rows(sorted(zip(vec_ids, embs), key=lambda x: x[0]),
                           out_dim=16, in_dim=dim)
    write("q_rp_reduce",
          pa.schema([("vec_id", pa.int64()), ("dim", pa.int32()),
                     ("value", pa.float64())]),
          {"vec_id": [x[0] for x in _rp], "dim": [x[1] for x in _rp],
           "value": [x[2] for x in _rp]})
    n = len(vec_ids)
    k = 5
    query_ids = sorted(i for i in vec_ids if i < 20)

    # q_ann_lsh: nBits=6, seed=42, multiprobe=1
    planes6 = g.hyperplanes(6, dim, 42)
    bucket_of = {i: g.sign_bits(by_id[i], planes6) for i in vec_ids}
    members6 = {}
    for i in vec_ids:
        members6.setdefault(bucket_of[i], []).append(i)
    lsh_rows = []
    for q in query_ids:
        probes = [bucket_of[q]] + [bucket_of[q] ^ (1 << b) for b in range(6)]
        cands = set()
        for p in probes:
            cands.update(members6.get(p, []))
        cands.discard(q)
        scored = [(c, g.cosine(by_id[q], by_id[c])) for c in sorted(cands)]
        for rank, vid, score in g.topk_rank(scored, k):
            lsh_rows.append((q, rank, vid, score))
    write("q_ann_lsh",
          pa.schema([("q_id", pa.int64()), ("rank", pa.int32()),
                     ("neighbor_id", pa.int64()), ("score", pa.float64())]),
          {"q_id": [x[0] for x in lsh_rows], "rank": [x[1] for x in lsh_rows],
           "neighbor_id": [x[2] for x in lsh_rows], "score": [x[3] for x in lsh_rows]})

    # q_ann_ivf: nLists=max(16, round(sqrt(n))), nProbe=4, seed=42
    lists = max(16, int(round(math.sqrt(n))))
    target = max(256, lists * 8)
    rate = max(1, n // target)
    sample = [by_id[i] for i in sorted(vec_ids) if g.mix(i) % rate == 0]
    centroids = g.kmeans(sample, lists, 5, 42)
    assign = {i: g.nearest_lists(by_id[i], centroids, 1)[0] for i in vec_ids}
    inv = {}
    for i in vec_ids:
        inv.setdefault(assign[i], []).append(i)
    ivf_rows = []
    for q in query_ids:
        probes = g.nearest_lists(by_id[q], centroids, 4)
        cands = set()
        for p in probes:
            cands.update(inv.get(p, []))
        cands.discard(q)
        scored = [(c, g.cosine(by_id[q], by_id[c])) for c in sorted(cands)]
        for rank, vid, score in g.topk_rank(scored, k):
            ivf_rows.append((q, rank, vid, score))
    write("q_ann_ivf",
          pa.schema([("q_id", pa.int64()), ("rank", pa.int32()),
                     ("neighbor_id", pa.int64()), ("score", pa.float64())]),
          {"q_id": [x[0] for x in ivf_rows], "rank": [x[1] for x in ivf_rows],
           "neighbor_id": [x[2] for x in ivf_rows], "score": [x[3] for x in ivf_rows]})

    # q_ann_quantized: int8 symmetric quantization then exact top-k on the
    # quantized bytes (mirrors Similarity.quantizeI8/cosineI8: identical
    # integer dots and norms, one double division)
    q8_of = {i: g.quantize_i8(by_id[i]) for i in vec_ids}
    q8_rows = []
    for q in query_ids:
        scored = [(c, g.cosine_i8(q8_of[q], q8_of[c]))
                  for c in sorted(vec_ids) if c != q]
        for rank, vid, score in g.topk_rank(scored, k):
            q8_rows.append((q, rank, vid, score))
    write("q_ann_quantized",
          pa.schema([("q_id", pa.int64()), ("rank", pa.int32()),
                     ("neighbor_id", pa.int64()), ("score", pa.float64())]),
          {"q_id": [x[0] for x in q8_rows], "rank": [x[1] for x in q8_rows],
           "neighbor_id": [x[2] for x in q8_rows], "score": [x[3] for x in q8_rows]})

    # q_ann_ivf_q8: IVF bucketing on FLOAT centroids (same centroids/assign/
    # probe as q_ann_ivf), int8 re-rank (mirrors Similarity.ivfQuantizedTopK)
    ivfq8_rows = []
    for q in query_ids:
        probes = g.nearest_lists(by_id[q], centroids, 4)
        cands = set()
        for p in probes:
            cands.update(inv.get(p, []))
        cands.discard(q)
        scored = [(c, g.cosine_i8(q8_of[q], q8_of[c])) for c in sorted(cands)]
        for rank, vid, score in g.topk_rank(scored, k):
            ivfq8_rows.append((q, rank, vid, score))
    write("q_ann_ivf_q8",
          pa.schema([("q_id", pa.int64()), ("rank", pa.int32()),
                     ("neighbor_id", pa.int64()), ("score", pa.float64())]),
          {"q_id": [x[0] for x in ivfq8_rows], "rank": [x[1] for x in ivfq8_rows],
           "neighbor_id": [x[2] for x in ivfq8_rows],
           "score": [x[3] for x in ivfq8_rows]})

    # q_embed_cluster: corpus-scaled kmeans assignment (mirrors
    # Similarity.clusterAssign: same hash-gate sample, same Lloyd iterations)
    crows = [(i, g.nearest_lists(by_id[i], centroids, 1)[0]) for i in vec_ids]
    write("q_embed_cluster",
          pa.schema([("vec_id", pa.int64()), ("cluster", pa.int32())]),
          {"vec_id": [x[0] for x in crows], "cluster": [x[1] for x in crows]})

    # q_embed_near_dups: union with float32-perturbed every-20th, nBits=10,
    # threshold 0.95, cap 1000
    union = dict(by_id)
    for i in sorted(vec_ids):
        if i % 20 == 0:
            rng = g.Rng((i & ((1 << 64) - 1)) ^ 0x3141592653)
            v = by_id[i]
            pert = np.empty(dim, dtype=np.float32)
            half = np.float32(0.5)
            amp = np.float32(0.01)
            for d in range(dim):
                r32 = np.float32(rng.next_double())
                pert[d] = v[d] + (r32 - half) * amp
            union[i + 1000000] = pert
    planes10 = g.hyperplanes(10, dim, 42)
    ebuckets = {}
    for i, v in union.items():
        ebuckets.setdefault(g.sign_bits(v, planes10), []).append(i)
    erows = []
    for a, b in sorted(g.bucket_pairs(ebuckets.values(), 1000)):
        c = g.cosine(union[a], union[b])
        if c >= 0.95:
            erows.append((a, b, c))
    write("q_embed_near_dups",
          pa.schema([("vec_a", pa.int64()), ("vec_b", pa.int64()),
                     ("cos", pa.float64())]),
          {"vec_a": [x[0] for x in erows], "vec_b": [x[1] for x in erows],
           "cos": [x[2] for x in erows]})

    # q_semdedup over the SAME perturbed union: default clustering (mirrors
    # Similarity.trainCentroids: hash-gate sample sorted by id, Lloyd x5),
    # then min-id-keeper pairwise prune within clusters, threshold 0.95,
    # maxClusterSize 10000
    n2 = len(union)
    lists2 = max(16, int(round(math.sqrt(n2))))
    target2 = max(256, lists2 * 8)
    rate2 = max(1, n2 // target2)
    sample2 = [union[i] for i in sorted(union) if g.mix(i) % rate2 == 0]
    cents2 = g.kmeans(sample2, lists2, 5, 42)
    sd_assign = {i: g.nearest_lists(union[i], cents2, 1)[0] for i in union}
    sd_clusters = {}
    for i, c in sd_assign.items():
        sd_clusters.setdefault(c, []).append(i)
    sd_pruned = set()
    for c, mem in sd_clusters.items():
        if len(mem) < 2 or len(mem) > 10000:
            continue
        mem = sorted(mem)
        for ai in range(len(mem)):
            for bi in range(ai + 1, len(mem)):
                if g.cosine(union[mem[ai]], union[mem[bi]]) >= 0.95:
                    sd_pruned.add(mem[bi])
    sd_rows = [(i, sd_assign[i], "pruned" if i in sd_pruned else "kept")
               for i in sorted(union)]
    assert any(x[2] == "pruned" for x in sd_rows), "semdedup fixture inert"
    write("q_semdedup",
          pa.schema([("vec_id", pa.int64()), ("cluster", pa.int32()),
                     ("status", pa.string())]),
          {"vec_id": [x[0] for x in sd_rows],
           "cluster": [x[1] for x in sd_rows],
           "status": [x[2] for x in sd_rows]})

    # q_semdedup_hier: two independently-seeded codebooks (k1=6 seed 42,
    # k2=5 seed 43 — mirrors trainCentroids' hash-gate sample, which is
    # seed-independent, then Lloyd x5); prune within (coarse, fine) cells
    target_h = 256  # max(256, k*8) for both k=6 and k=5
    rate_h = max(1, n2 // target_h)
    sample_h = [union[i] for i in sorted(union) if g.mix(i) % rate_h == 0]
    cents_c = g.kmeans(sample_h, 6, 5, 42)
    cents_f = g.kmeans(sample_h, 5, 5, 43)
    sh_coarse = {i: g.nearest_lists(union[i], cents_c, 1)[0] for i in union}
    sh_fine = {i: g.nearest_lists(union[i], cents_f, 1)[0] for i in union}
    sh_cells = {}
    for i in union:
        sh_cells.setdefault((sh_coarse[i], sh_fine[i]), []).append(i)
    sh_pruned = set()
    for cell, mem in sh_cells.items():
        if len(mem) < 2 or len(mem) > 10000:
            continue
        mem = sorted(mem)
        for ai in range(len(mem)):
            for bi in range(ai + 1, len(mem)):
                if g.cosine(union[mem[ai]], union[mem[bi]]) >= 0.95:
                    sh_pruned.add(mem[bi])
    sh_rows = [(i, sh_coarse[i], sh_fine[i],
                "pruned" if i in sh_pruned else "kept")
               for i in sorted(union)]
    assert any(x[3] == "pruned" for x in sh_rows), "semdedup_hier inert"
    write("q_semdedup_hier",
          pa.schema([("vec_id", pa.int64()), ("coarse", pa.int32()),
                     ("fine", pa.int32()), ("status", pa.string())]),
          {"vec_id": [x[0] for x in sh_rows],
           "coarse": [x[1] for x in sh_rows],
           "fine": [x[2] for x in sh_rows],
           "status": [x[3] for x in sh_rows]})

    repo_root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    gen_mei_and_gtxml(results, out_dir, repo_root)


def load_write_to_mei():
    """Import the EXECUTING reference writeToMEI with py3 stubs."""
    import types
    import builtins
    import xml.etree.ElementTree as ET
    sys.modules.setdefault("xml.etree.cElementTree", ET)
    builtins.reload = lambda m: m
    for name in ("gamera", "gamera.core", "gamera.plugins",
                 "gamera.plugins.image_utilities", "textAlignPreprocessing",
                 "PIL", "PIL.Image", "PIL.ImageDraw", "PIL.ImageFont"):
        if name not in sys.modules:
            m = types.ModuleType(name)
            if name == "gamera.core":
                m.init_gamera = lambda: None
                m.load_image = lambda *a, **k: None
            if name == "gamera.plugins.image_utilities":
                m.union_images = lambda *a, **k: None
            sys.modules[name] = m
    sys.modules["gamera"].core = sys.modules["gamera.core"]
    sys.modules["gamera"].plugins = sys.modules["gamera.plugins"]
    sys.modules["gamera.plugins"].image_utilities = sys.modules["gamera.plugins.image_utilities"]
    sys.modules["PIL"].Image = sys.modules["PIL.Image"]
    sys.modules["PIL"].ImageDraw = sys.modules["PIL.ImageDraw"]
    sys.modules["PIL"].ImageFont = sys.modules["PIL.ImageFont"]
    import writeToMEI  # noqa: F401
    return writeToMEI


def synth_neumes(url, spans):
    """Mirror of graft.pipeline.MeiAssign.synthNeumes for one document."""
    out = []
    for seq, syl, ulx, uly, lrx, lry in spans:
        rng = g.Rng(g.string_hash64(url) ^ g.u64(seq * g.GOLDEN))
        if rng.next_double() < 0.10:
            continue
        jl = rng.next_int(3) - 1
        jr = rng.next_int(3) - 1
        l = max(0, ulx + jl)
        r = max(l + 1, lrx + jr)
        out.append((seq, l, uly - 1, r, lry - 1))
    return out


MEI_NS = "http://www.music-encoding.org/ns/mei"
XML_ID = "{http://www.w3.org/XML/1998/namespace}id"


def norm_mei_ids(s):
    """Replace the reference's np.random-generated xml:ids with gid<k> in
    first-appearance order (preserves syllable@facs <-> zone@xml:id linkage
    under byte comparison; the ids are explicitly random, writeToMEI.py:25-31).
    """
    import re
    mapping = {}

    def repl(m):
        k = m.group(0)
        if k not in mapping:
            mapping[k] = f"gid{len(mapping)}"
        return mapping[k]

    return re.sub(
        r"m-[0-9a-f]+-[0-9a-f]+-[0-9a-f]+-[0-9a-f]+-[0-9a-f]+", repl, s)


def mei_assign_rows(wtm, url, spans):
    """Build a fixture MEI tree for the synthesized neumes, run the EXECUTING
    reference add_text_to_mei_file, and read the assignment back out — plus
    the id-normalized serialized XML (the q_mei_xml golden)."""
    import numpy as np
    import xml.etree.ElementTree as ET
    np.random.seed(0)  # generate_id determinism (ids are normalized)

    neumes = synth_neumes(url, spans)
    root = ET.Element(f"{{{MEI_NS}}}mei")
    surface = ET.SubElement(root, f"{{{MEI_NS}}}surface")
    layer = ET.SubElement(root, f"{{{MEI_NS}}}layer")
    for seq, ulx, uly, lrx, lry in neumes:
        zone = ET.SubElement(surface, f"{{{MEI_NS}}}zone")
        zone.set(XML_ID, f"z{seq}")
        zone.set("ulx", str(ulx))
        zone.set("uly", str(uly))
        zone.set("lrx", str(lrx))
        zone.set("lry", str(lry))
        se = ET.SubElement(layer, f"{{{MEI_NS}}}syllable")
        se.set(XML_ID, f"s{seq}")
        neume = ET.SubElement(se, f"{{{MEI_NS}}}neume")
        nc = ET.SubElement(neume, f"{{{MEI_NS}}}nc")
        nc.set("facs", f"z{seq}")

    tree = ET.ElementTree(root)
    syls_boxes = [(syl, (ulx, uly), (lrx, lry))
                  for _, syl, ulx, uly, lrx, lry in spans]
    tree, _, _ = wtm.add_text_to_mei_file(tree, syls_boxes, 1.0)

    ET.register_namespace('', MEI_NS)
    mei_xml = norm_mei_ids(ET.tostring(tree.getroot(), encoding="unicode"))

    root = tree.getroot()
    new_zones = {z.attrib[XML_ID]: z for z in root.findall(f".//{{{MEI_NS}}}zone")}
    assigned = {}
    zones = {}
    for se in root.findall(f".//{{{MEI_NS}}}syllable"):
        leader_seq = int(se.attrib[XML_ID][1:])
        syl_el = se.find("syl")
        text = syl_el.text if syl_el is not None else None
        facs = se.attrib.get("facs")
        if facs and facs in new_zones:
            z = new_zones[facs]
            zones[leader_seq] = (int(z.attrib["ulx"]), int(z.attrib["uly"]),
                                 int(z.attrib["lrx"]), int(z.attrib["lry"]))
        for neume in se.findall(f"{{{MEI_NS}}}neume"):
            nc = neume.find(f"{{{MEI_NS}}}nc")
            orig = int(nc.attrib["facs"][1:])
            assigned[orig] = (orig == leader_seq, text, leader_seq)

    rows = []
    for seq, _, _, _, _ in neumes:
        if seq in assigned:
            is_leader, text, leader = assigned[seq]
            z = zones.get(seq) if is_leader else None
            rows.append((url, seq, is_leader, text, leader,
                         z[0] if z else None, z[1] if z else None,
                         z[2] if z else None, z[3] if z else None))
        else:
            rows.append((url, seq, False, None, None, None, None, None, None))
    return rows, mei_xml


def gen_gtxml_fixture(doc_id, spans, fixture_dir):
    import xml.etree.ElementTree as ET
    root = ET.Element("annotation")
    gt = []
    for i, (seq, syl, ulx, uly, lrx, lry) in enumerate(spans):
        rng = g.Rng(g.u64(doc_id * 31 + seq))
        difficult = 1 if rng.next_double() < 0.15 else 0
        jx = rng.next_int(5) - 2
        jr = rng.next_int(5) - 2
        xmin = max(0, ulx + jx)
        xmax = max(xmin + 1, lrx + jr)
        obj = ET.SubElement(root, "object")
        ET.SubElement(obj, "name").text = syl
        ET.SubElement(obj, "difficult").text = str(difficult)
        bb = ET.SubElement(obj, "bndbox")
        ET.SubElement(bb, "xmin").text = str(xmin)
        ET.SubElement(bb, "ymin").text = str(uly)
        ET.SubElement(bb, "xmax").text = str(xmax)
        ET.SubElement(bb, "ymax").text = str(lry)
        if difficult == 0:
            gt.append((i, syl, xmin, uly, xmax, lry))
    ET.ElementTree(root).write(os.path.join(fixture_dir, f"{doc_id}.xml"))
    return gt


def gen_mei_and_gtxml(results, out_dir, repo_root):
    wtm = load_write_to_mei()

    def write(name, schema, cols):
        pq.write_table(pa.table(cols, schema=schema),
                       os.path.join(out_dir, name + ".parquet"))
        print(f"{name}: {len(cols[schema.names[0]])} rows")

    # ---- q_mei_assign + q_mei_xml (reference-executed writeToMEI) ----
    mrows = []
    xrows = []
    for r in results:
        rows, mei_xml = mei_assign_rows(wtm, r["url"], r["spans"])
        mrows.extend(rows)
        if rows:  # the Spark contract: one row per url PRESENT in neumes
            xrows.append((r["url"], mei_xml))
    write("q_mei_xml",
          pa.schema([("url", pa.string()), ("mei_xml", pa.string())]),
          {"url": [x[0] for x in xrows], "mei_xml": [x[1] for x in xrows]})
    write("q_mei_assign",
          pa.schema([("url", pa.string()), ("elem_seq", pa.int32()),
                     ("is_leader", pa.bool_()), ("assigned_syl", pa.string()),
                     ("leader_seq", pa.int32()),
                     ("zone_ulx", pa.int32()), ("zone_uly", pa.int32()),
                     ("zone_lrx", pa.int32()), ("zone_lry", pa.int32())]),
          {k: [row[i] for row in mrows] for i, k in enumerate(
              ["url", "elem_seq", "is_leader", "assigned_syl", "leader_seq",
               "zone_ulx", "zone_uly", "zone_lrx", "zone_lry"])})

    # ---- q_eval_gtxml (committed PASCAL-VOC fixtures, first 3 docs) ----
    fixture_dir = os.path.join(repo_root, "src", "test", "resources", "gtxml")
    os.makedirs(fixture_dir, exist_ok=True)
    erows = []
    for r in results[:3]:
        gt = gen_gtxml_fixture(r["doc_id"], r["spans"], fixture_dir)
        mi, mr, n = g.evaluate_means(gt, r["spans"])
        erows.append((r["url"], mi, mr, n))
    erows.sort()
    write("q_eval_gtxml",
          pa.schema([("url", pa.string()), ("mean_iou", pa.float64()),
                     ("mean_range_iou", pa.float64()), ("n_gt_spans", pa.int32())]),
          {"url": [x[0] for x in erows], "mean_iou": [x[1] for x in erows],
           "mean_range_iou": [x[2] for x in erows],
           "n_gt_spans": [x[3] for x in erows]})


if __name__ == "__main__":
    main()
