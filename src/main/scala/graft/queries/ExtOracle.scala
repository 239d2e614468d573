package graft.queries

/** DuckDB oracle SQL for [[Ext]]. Same parity rules as [[RelOracle]], plus:
  *  - token arrays: `list_filter(string_split(text,' '), x -> x <> '')`
  *    ≡ Spark `filter(split(text,' '), _ =!= "")`;
  *  - sequential double folds: `list_reduce(list_prepend(0.0, …), +)`
  *    ≡ Spark `aggregate(…, 0.0, +)` — identical operand order gives
  *    bit-identical doubles, so cosine scores need no rounding;
  *  - 60-bit md5 prefix: `CAST('0x'||substr(md5(t),1,15) AS BIGINT)`
  *    ≡ Spark `conv(substring(md5(t),1,15),16,10)::long`.
  *
  * xxhash64/FNV-based sketches (minhash LSH, SimHash) have no native
  * SQL twin; since r11 they gate against LITERAL tables captured from
  * the independent [[graft.queries]] test-scope reimplementations
  * (public-spec xxHash64 / FNV-1a — the BpeRef precedent, see
  * `SketchCapturedRows`; `IvfCapturedRows`/`PqCapturedRows` extend it
  * to every ANN search since the r12 fixed-point training rewrite —
  * no registered query is rows-only by design anymore except
  * whatever a future round adds before its capture lands).
  */
object ExtOracle {

  /** The 500-merge table captured from the independent reference
    * trainer via `CaptureBpe` (sf0.01, the driver-gate corpus) —
    * shared by the trainer gate and the trained-apply recursive
    * replay so the two oracles cannot drift. Rows only; wrap in
    * `(VALUES $bpeTrainedRows) AS t(merge_round, lhs, rhs, n)`. */
  private val bpeTrainedRows: String =
    """(1, 'e', 'r', 4568), (2, '▁', 's', 4041), (3, 'i', 'n', 2760), (4, 'o', 'w', 2747),
(5, 'a', 't', 1845), (6, 'l', 'u', 1831), (7, 'c', 'h', 937), (8, 'g', 'g', 901),
(9, 'o', 'r', 2696), (10, 'e', '▁', 2623), (11, 's', 't', 2003), (12, 'm', 'er', 1852),
(13, 'p', 'a', 1758), (14, 'at', 'ch', 937), (15, 'c', 'u', 934), (16, 'f', 'i', 933),
(17, 'l', 'l', 928), (18, 'd', 'ow', 886), (19, 'w', 'in', 886), (20, 'n', '▁s', 252),
(21, 'pa', 'r', 1758), (22, '▁', 'a', 1132), (23, 'j', 'o', 964), (24, 's', 'h', 947),
(25, 'b', 'atch', 937), (26, 'cu', 'st', 934), (27, 'lu', 'm', 934), (28, 'fi', 'l', 933),
(29, 't', 'er', 933), (30, 'mer', 'g', 918), (31, 'e', 'c', 912), (32, 'or', 'd', 912),
(33, 'u', 'p', 904), (34, 'win', 'dow', 886), (35, 'in', 'e▁', 543), (36, 'ow', '▁s', 283),
(37, '▁', 'v', 1108), (38, 'jo', 'in', 964), (39, 'a', 'sh', 947), (40, 'c', 'o', 934),
(41, 'fil', 'ter', 933), (42, 'ec', 't', 912), (43, 'ord', 'er', 912), (44, 'b', 'l', 908),
(45, 'd', 'at', 908), (46, 'e', 'y', 896), (47, 'par', 'k', 880), (48, 'g', 'r', 878),
(49, 'q', 'u', 871), (50, 'lum', 'n', 815), (51, '▁s', 'm', 587), (52, '▁a', 'gg', 583),
(53, 'merg', 'e▁', 557), (54, 's', 'or', 211), (55, 'ine▁', 'cust', 32), (56, '▁', 't', 1104),
(57, 'h', 'ash', 947), (58, 'c', 'a', 936), (59, 'o', 'mer', 934), (60, 'ect', 'or', 912),
(61, 'k', 'ey', 896), (62, 'r', 'e', 888), (63, 'b', 'i', 876), (64, 'er', 'y', 871),
(65, 'co', 'lumn', 815), (66, 'l', 'ow', 776), (67, '▁s', 'park', 591), (68, 'bl', 'e▁', 524),
(69, 's', 'm', 245), (70, 'lum', 'n▁s', 119), (71, 'join', '▁v', 57), (72, 'ine▁', 'v', 39),
(73, 'merge▁', 'gr', 36), (74, 'batch', '▁agg', 31), (75, 'order', '▁sm', 30), (76, 'st', '▁a', 30),
(77, 'd', 'up', 26), (78, 'a', 'll', 928), (79, 'cust', 'omer', 902), (80, 'o', 'up', 878),
(81, 'par', 't', 878), (82, 'bi', 'g', 876), (83, 'qu', 'ery', 871), (84, 'ca', 'n', 803),
(85, 'r', 'ow', 802), (86, '▁', 'hash', 601), (87, '▁s', 'or', 565), (88, '▁v', 'ector', 542),
(89, '▁t', 'h', 529), (90, 'lu', 'e▁', 517), (91, 'l', 'ine▁', 472), (92, 'bl', 'e', 384),
(93, 'st', 're', 215), (94, 's', 'park', 205), (95, 'co', 'lumn▁s', 119), (96, 'ow▁s', 'm', 59),
(97, 'ble▁', 'v', 44), (98, 'batch', '▁sm', 30), (99, 'filter', '▁agg', 27), (100, 'window', '▁a', 27),
(101, 'merge▁', 'order', 26), (102, 'dat', 'a', 908), (103, 'gr', 'oup', 842), (104, 't', 're', 673),
(105, '▁', 'join', 593), (106, '▁sm', 'all', 527), (107, '▁s', 'can', 522), (108, 'lu', 'e', 380),
(109, 'l', 'in', 367), (110, 'v', 'ector', 304), (111, '▁th', 'e▁', 260), (112, 's', 'low', 191),
(113, 'ca', 'n▁s', 133), (114, 'r', 'ow▁s', 113), (115, 'row', '▁a', 38), (116, 'ble▁', 'hash', 37),
(117, 'st', '▁hash', 33), (118, 'window', '▁t', 33), (119, 'ine▁cust', 'omer', 32), (120, 'm', '▁v', 31),
(121, 'merge▁', 'customer', 31), (122, 'line▁', 'key', 30), (123, 'lue▁', 'batch', 30), (124, 'filter', '▁spark', 27),
(125, 'column', '▁agg', 26), (126, 'order', '▁sor', 26), (127, 'column▁s', 'or', 24), (128, 'a', 'm', 857),
(129, '▁', 'data', 591), (130, '▁s', 'tre', 588), (131, '▁sor', 't', 539), (132, 'lin', 'e', 367),
(133, 'sm', 'all', 245), (134, 'h', 'e▁', 222), (135, 's', 'can', 213), (136, 'l', 'ow▁s', 111),
(137, 'merge▁gr', 'oup', 36), (138, 'join▁v', 'ector', 35), (139, 'filter', '▁hash', 32), (140, 'merge▁', 'hash', 32),
(141, 'order', '▁v', 31), (142, 'lue▁', 'query', 30), (143, 'part', '▁t', 30), (144, 'st', '▁agg', 30),
(145, 'big', '▁join', 29), (146, 'batch', '▁scan', 28), (147, 'r', 'ow▁sm', 28), (148, 'column▁s', 'low', 26),
(149, 'key', '▁vector', 26), (150, 'line▁', 'group', 26), (151, 'lue', '▁small', 26), (152, 'ble▁', 'column', 25),
(153, 'row▁s', 'park', 24), (154, 'ble', '▁spark', 22), (155, 'f', 'a', 854), (156, '▁stre', 'am', 570),
(157, '▁', 'query', 558), (158, '▁s', 'low', 501), (159, 'merg', 'e', 361), (160, 't', 'he▁', 222),
(161, 's', 'low▁s', 49), (162, 'l', 'ine▁v', 39), (163, 'm', 'all', 37), (164, 'window', '▁hash', 32),
(165, 'filter', '▁data', 31), (166, 'part', '▁join', 29), (167, 'row', '▁v', 29), (168, 'column', '▁t', 28),
(169, 'st', '▁spark', 28), (170, 'lue▁', 'customer', 27), (171, 'can▁s', 'tre', 26), (172, 'line▁', 'join', 26),
(173, 'big', '▁sort', 25), (174, 'ble', '▁small', 25), (175, 'ble▁', 'batch', 25), (176, 'group', '▁vector', 24),
(177, 'column▁s', 'park', 23), (178, 'key', '▁a', 23), (179, 'lue', '▁scan', 22), (180, 'fa', 'st', 733),
(181, '▁', 'customer', 554), (182, '▁t', 'a', 484), (183, '▁th', 'e', 269), (184, 'sor', 't', 211),
(185, 'stre', 'am', 203), (186, '▁s', 'can▁s', 63), (187, 'l', 'ine▁customer', 32), (188, 'ow▁sm', 'all', 31),
(189, 'group', '▁data', 30), (190, 'key', '▁hash', 29), (191, 'merge', '▁small', 29), (192, 'ble', '▁stream', 28),
(193, 'filter', '▁query', 28), (194, 'window', '▁sort', 28), (195, 'ble▁', 'join', 25), (196, 'line', '▁slow', 25),
(197, 'line▁', 'data', 25), (198, 'merge▁', 'row', 25), (199, 'big', '▁spark', 24), (200, 'part', '▁agg', 24),
(201, 'column', '▁join', 23), (202, 'lue▁', 'order', 23), (203, 'row▁s', 'tre', 22), (204, 'low▁s', 'or', 20),
(205, '▁', 'batch', 518), (206, '▁v', 'a', 418), (207, '▁ta', 'ble', 216), (208, 'h', 'e', 89),
(209, 'or', 't', 52), (210, '▁s', 'low▁s', 38), (211, 'tre', 'am', 37), (212, 'row', '▁customer', 35),
(213, 'fa', 'st▁hash', 33), (214, 'l', 'ow▁small', 31), (215, 's', 'can▁s', 31), (216, 'batch▁sm', 'all', 30),
(217, 'group', '▁query', 29), (218, 'order', '▁data', 29), (219, 'filter', '▁join', 26), (220, 'line▁', 'window', 26),
(221, 'merge', '▁spark', 26), (222, '▁hash', '▁stream', 25), (223, 'merge▁', 'query', 24), (224, 'fast', '▁sort', 23),
(225, 'line', '▁small', 23), (226, 'ble▁', 'key', 22), (227, 'column', '▁vector', 22), (228, 'lue', '▁slow', 22),
(229, 'big', '▁agg', 21), (230, 'lue▁', 'data', 21), (231, 'row▁s', 'can', 21), (232, 'part', '▁scan', 20),
(233, '▁', 'big', 504), (234, 't', 'a', 333), (235, '▁va', 'lue', 177), (236, '▁ta', 'ble▁', 164),
(237, 'window', '▁customer', 32), (238, 'fa', 'st▁a', 30), (239, 'order▁sm', 'all', 30), (240, 'fast', '▁query', 26),
(241, 'group', '▁stream', 26), (242, 'can▁stre', 'am', 25), (243, 'filter', '▁scan', 25), (244, 'row', '▁vector', 25),
(245, 'column', '▁data', 23), (246, 'key', '▁spark', 23), (247, 'line', '▁sort', 23), (248, 'line▁', 'batch', 22),
(249, 'part', '▁slow', 22), (250, 'merge▁', 'join', 21), (251, 'order', '▁batch', 21), (252, 'row▁s', 'ort', 21),
(253, 'column▁s', 'tream', 19), (254, '▁small', '▁join', 19), (255, 'lue▁', 'vector', 18), (256, 'ble▁v', 'ector', 17),
(257, '▁', 'key', 482), (258, 'a', 'gg', 318), (259, '▁va', 'lue▁', 152), (260, 'ta', 'ble▁', 151),
(261, 't', 'he', 89), (262, 'fa', 'st▁agg', 30), (263, 'fast', '▁customer', 29), (264, 'column', '▁big', 28),
(265, 'row▁sm', 'all', 28), (266, 'window', '▁query', 26), (267, 'filter', '▁a', 24), (268, 'line▁', 'row', 24),
(269, 'part', '▁stream', 24), (270, 'order', '▁spark', 23), (271, 'group', '▁agg', 22), (272, 'merge', '▁sort', 22),
(273, 'merge▁', 'batch', 22), (274, 'row▁stre', 'am', 22), (275, '▁ta', 'ble▁hash', 22), (276, 'row▁s', 'low', 20),
(277, '▁vector', '▁small', 18), (278, 'line', '▁scan', 17), (279, 'the▁', 'hash', 17), (280, '▁s', 'can▁stream', 17),
(281, '▁batch', '▁hash', 16), (282, '▁join', '▁data', 16), (283, '▁scan▁s', 'can', 16), (284, '▁', 'order', 470),
(285, 'v', 'a', 314), (286, 'ta', 'ble', 62), (287, 'column', '▁key', 28), (288, 'fa', 'st▁spark', 28),
(289, 'order▁sor', 't', 26), (290, 'row', '▁agg', 24), (291, 'window', '▁scan', 24), (292, 'filter', '▁small', 23),
(293, 'merge', '▁stream', 23), (294, 'fast', '▁data', 22), (295, 'line', '▁spark', 22), (296, 'line▁', 'hash', 22),
(297, 'merge▁', 'key', 22), (298, 'part', '▁sort', 22), (299, 'group', '▁big', 20), (300, 'the▁', 'batch', 17),
(301, '▁s', 'low▁sor', 17), (302, '▁query', '▁join', 16), (303, 'query', '▁customer', 15), (304, 'big', '▁a', 14),
(305, '▁', 'part', 453), (306, 'va', 'lue▁', 157), (307, 'a', 'lue', 74), (308, 'column▁sor', 't', 24),
(309, 'row', '▁data', 24), (310, 'filter', '▁vector', 23), (311, 'column', '▁batch', 22), (312, 'fast', '▁join', 22),
(313, 'window', '▁key', 22), (314, 'group', '▁spark', 21), (315, 'line', '▁stream', 21), (316, 'merge▁', 'big', 20),
(317, 'merge', '▁slow', 18), (318, 'line▁', 'agg', 16), (319, '▁order', '▁customer', 16), (320, '▁query', '▁small', 16),
(321, '▁s', 'low▁small', 16), (322, 'key', '▁agg', 15), (323, 'ta', 'ble▁batch', 15), (324, '▁the', '▁sort', 15),
(325, 'data', '▁the▁', 14), (326, 'line▁v', 'ector', 14), (327, 'slow▁s', 'low', 14), (328, '▁', 'filter', 433),
(329, 'a', 'lue▁', 59), (330, 'va', 'lue', 59), (331, 'row', '▁batch', 22), (332, 'window', '▁slow', 22),
(333, 'column', '▁order', 21), (334, 'fast', '▁part', 21), (335, 'group', '▁customer', 20), (336, '▁stream', '▁join', 20),
(337, 'merge▁', 'agg', 19), (338, 'order▁v', 'alue', 19), (339, 'line▁', 'big', 18), (340, 'merge', '▁scan', 17),
(341, '▁slow▁sor', 't', 17), (342, '▁the', '▁spark', 17), (343, '▁big', '▁data', 16), (344, 'ta', 'ble▁join', 15),
(345, '▁hash', '▁agg', 15), (346, '▁query', '▁key', 15), (347, 'customer', '▁small', 14), (348, 's', 'low▁small', 14),
(349, 'vector', '▁vector', 14), (350, '▁the▁', 'key', 14), (351, '▁va', 'lue▁scan', 14), (352, 'slow▁s', 'ort', 13),
(353, '▁', 'group', 419), (354, 'window▁t', 'a', 33), (355, 'window', '▁filter', 25), (356, 'row', '▁query', 22),
(357, 'fast', '▁batch', 21), (358, 'column', '▁part', 19), (359, 'line▁', 'filter', 18), (360, '▁spark', '▁join', 18),
(361, '▁key', '▁order', 17), (362, 'merge▁', 'data', 16), (363, 'va', 'lue▁slow', 16), (364, '▁sort', '▁data', 16),
(365, 'row▁v', 'alue▁', 15), (366, 'hash', '▁agg', 14), (367, 'line▁v', 'alue', 14), (368, 'ta', 'ble▁stream', 14),
(369, '▁customer', '▁scan', 14), (370, 'small', '▁stream', 13), (371, '▁', 'row', 388), (372, 'a', 'm▁v', 31),
(373, 'fast', '▁group', 20), (374, 'window', '▁data', 19), (375, 'column', '▁filter', 18), (376, 'merge▁', 'vector', 16),
(377, 'va', 'lue▁batch', 15), (378, '▁sort', '▁slow', 15), (379, '▁value', '▁spark', 15), (380, 'line▁', 'part', 14),
(381, '▁big', '▁order', 14), (382, '▁key', '▁batch', 14), (383, '▁vector', '▁join', 14), (384, 'order', '▁scan', 13),
(385, 'ta', 'ble▁hash', 13), (386, 'window▁ta', 'ble', 13), (387, '▁a', '▁stream', 13), (388, '▁scan▁s', 'low', 13),
(389, '▁slow▁s', 'tream', 13), (390, '▁ta', 'ble▁small', 13), (391, '▁table▁', 'line', 13), (392, '▁the▁', 'big', 13),
(393, 'small', '▁customer', 12), (394, '▁', 'window', 372), (395, 'part▁t', 'a', 30), (396, 'column', '▁row', 19),
(397, 'fast', '▁stream', 19), (398, '▁stre', 'am▁v', 18), (399, 'merge▁', 'part', 15), (400, 'vector', '▁spark', 15),
(401, 'line▁', 'query', 14), (402, 'va', 'lue▁customer', 14), (403, '▁hash', '▁group', 14), (404, '▁part', '▁filter', 14),
(405, 'hash', '▁batch', 13), (406, 'ta', 'ble▁v', 13), (407, '▁data', '▁customer', 13), (408, '▁order', '▁big', 13),
(409, '▁small', '▁slow', 13), (410, '▁sort', '▁a', 13), (411, '▁table', '▁scan', 13), (412, '▁va', 'lue▁batch', 13),
(413, '▁vector', '▁agg', 13), (414, '▁', 'fast', 352), (415, 'column▁t', 'a', 28), (416, 'merge▁', 'column', 18),
(417, '▁row', '▁group', 16), (418, 'line▁', 'order', 13), (419, 'va', 'lue▁data', 13), (420, '▁key', '▁customer', 13),
(421, '▁part', '▁vector', 13), (422, '▁query', '▁spark', 13), (423, '▁sort', '▁join', 13), (424, 'big', '▁order', 12),
(425, 'join', '▁batch', 12), (426, 'key', '▁scan', 12), (427, 'part▁ta', 'ble▁', 12), (428, 'stre', 'am▁v', 12),
(429, '▁big', '▁hash', 12), (430, '▁data', '▁data', 12), (431, '▁stream▁v', 'alue', 12), (432, '▁ta', 'ble▁spark', 12),
(433, '▁the▁', 'data', 12), (434, 'join▁v', 'alue▁', 11), (435, '▁', 'column', 342), (436, 'line▁', 'a', 20),
(437, 'merge▁', 'window', 16), (438, '▁row', '▁fast', 15), (439, 'column▁ta', 'ble▁', 12), (440, 'customer', '▁vector', 12),
(441, 'small', '▁part', 12), (442, '▁batch', '▁customer', 12), (443, '▁big', '▁scan', 12), (444, '▁key', '▁filter', 12),
(445, '▁order', '▁the', 12), (446, '▁slow', '▁data', 12), (447, '▁sort', '▁stream', 12), (448, '▁window', '▁spark', 12),
(449, 'order', '▁join', 11), (450, 'scan▁s', 'mall', 11), (451, 'slow', '▁query', 11), (452, 'sort', '▁a', 11),
(453, 'ta', 'ble▁key', 11), (454, 'the▁', 'big', 11), (455, 'value▁', 'agg', 11), (456, '▁', 'merge', 185),
(457, 'line▁', 'fast', 17), (458, 'merge▁', 'a', 17), (459, '▁big', '▁column', 16), (460, '▁fast', '▁row', 13),
(461, 'column', '▁hash', 12), (462, '▁a', '▁vector', 12), (463, '▁part', '▁order', 12), (464, '▁query', '▁filter', 12),
(465, '▁slow', '▁join', 12), (466, 'customer', '▁batch', 11), (467, 'data', '▁data', 11), (468, 'filter', '▁key', 11),
(469, 'slow', '▁customer', 11), (470, 'ta', 'ble▁vector', 11), (471, 'value', '▁stream', 11), (472, '▁group', '▁scan', 11),
(473, '▁scan▁s', 'mall', 11), (474, '▁spark', '▁agg', 11), (475, '▁ta', 'ble▁column', 11), (476, '▁va', 'lue▁customer', 11),
(477, 'agg', '▁table▁', 10), (478, 'column▁s', 'can', 10), (479, 'column▁ta', 'ble', 10), (480, '▁', 'line', 184),
(481, 'line▁', 'column', 15), (482, 'a', '▁small', 14), (483, '▁row', '▁column', 13), (484, 'merge▁', 'table▁', 12),
(485, '▁data', '▁big', 12), (486, '▁hash', '▁customer', 12), (487, '▁slow', '▁query', 12), (488, '▁vector', '▁a', 12),
(489, 'slow', '▁key', 11), (490, 'spark', '▁join', 11), (491, '▁batch', '▁order', 11), (492, '▁sort', '▁group', 11),
(493, '▁ta', 'ble▁v', 11), (494, '▁the', '▁stream', 11), (495, '▁va', 'lue▁query', 11), (496, 'agg', '▁spark', 10),
(497, 'column▁s', 'mall', 10), (498, 'order▁v', 'alue▁', 10), (499, 'slow▁s', 'park', 10), (500, 'sort', '▁agg', 10)"""

  private val toks = "list_filter(string_split(text, ' '), x -> x <> '')"

  private def stopList(words: Seq[String]): String =
    words.map(w => s"'$w'").mkString("[", ", ", "]")

  /** The frozen quality-model weight table as a SQL literal list, and
    * the per-doc score fold — shared by `text_quality_model` and the
    * curation funnel's model stage (ExtOracle referencing the engine's
    * deterministic driver-sized model state is the `sim_lsh_topk`
    * hyperplane precedent). Assumes a 1-row `w(wt)` relation and a
    * `toks` column in scope. */
  private val qmWeights =
    graft.ext.QualityModel.weights.mkString("[", ", ", "]")
  private val qmScore =
    s"""${graft.ext.QualityModel.Bias} + CAST(coalesce(list_sum(
       list_transform(toks, t -> wt[CAST(CAST('0x' || substr(md5(t), 1, 15)
         AS BIGINT) % ${graft.ext.QualityModel.B} AS INT) + 1])), 0)
       AS BIGINT)"""

  private val en = stopList(Seq("the", "a", "and", "of", "to", "is", "in", "it"))
  private val de = stopList(Seq("der", "die", "das", "und", "ist", "ein", "nicht"))
  private val fr = stopList(Seq("le", "la", "les", "et", "est", "une", "pas"))
  private val es = stopList(Seq("el", "los", "las", "y", "es", "una", "no"))

  private def hits(list: String) =
    s"len(list_filter(toks, t -> list_contains($list, t)))"

  /** Shared shingle CTE body for the Jaccard dedup family: distinct 3-gram
    * shingle rows with the hot-shingle guard (docFreq ≤ 100) — mirrors
    * `Ext.JaccardMaxDocFreq` exactly. */
  /** tok → distinct pruned shingles → sizes → UNthresholded pair counts
    * (shared by the Jaccard AND containment miners). */
  private val pairsAllCtes =
    s"""tok AS (SELECT doc_id AS id, $toks AS toks FROM documents),
       sh0 AS (SELECT id, unnest(list_distinct(list_transform(
           range(1, len(toks) - 1),
           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS s
         FROM tok WHERE len(toks) >= 3),
       sh AS (SELECT id, s FROM sh0
         WHERE s NOT IN (SELECT s FROM sh0 GROUP BY s HAVING count(*) > 100)),
       sizes AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
       pairs_all AS (
         SELECT id1, id2, c, n1, n2 FROM (
           SELECT a.id AS id1, b.id AS id2, count(*) AS c
           FROM sh a JOIN sh b ON a.s = b.s AND a.id < b.id GROUP BY 1, 2)
         JOIN (SELECT id AS id1, n AS n1 FROM sizes) USING (id1)
         JOIN (SELECT id AS id2, n AS n2 FROM sizes) USING (id2))"""

  /** The stay-point walk CTE chain (through `sp`) — shared by
    * `geo_staypoints` and `geo_od_matrix`. Must run under
    * `WITH RECURSIVE`. */
  private val staypointCtes: String =
    """pts AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us,
             row_number() OVER (PARTITION BY user_id
               ORDER BY epoch_us(ts), event_id) AS seq
           FROM events),
         xy AS MATERIALIZED (SELECT user_id, seq, event_id, ts_us,
             CASE WHEN ((seq - 1) // 16) % 3 = 2
               THEN ((seq - 1) // 16) * CAST(200.0 AS DOUBLE)
                 + ((seq - 1) % 16) * CAST(40.0 AS DOUBLE)
               ELSE ((seq - 1) // 16) * CAST(200.0 AS DOUBLE)
                 + (event_id % 5) * CAST(0.5 AS DOUBLE) END AS x,
             CASE WHEN ((seq - 1) // 16) % 3 = 2
               THEN ((seq - 1) % 16) * CAST(25.0 AS DOUBLE)
               ELSE (event_id % 7) * CAST(0.5 AS DOUBLE) END AS y
           FROM pts),
         nn AS MATERIALIZED (SELECT user_id, max(seq) AS n
           FROM xy GROUP BY user_id),
         hop AS (SELECT a.user_id, a.seq AS a,
             coalesce(min(p.seq), mx.n + 1) AS j
           FROM xy a JOIN nn mx USING (user_id)
           LEFT JOIN xy p ON p.user_id = a.user_id AND p.seq > a.seq
             AND ((p.x - a.x) * (p.x - a.x) + (p.y - a.y) * (p.y - a.y))
               > CAST(100.0 AS DOUBLE)
           GROUP BY a.user_id, a.seq, mx.n),
         hop2 AS MATERIALIZED (SELECT h.user_id, h.a, h.j,
             pj.ts_us - pa.ts_us AS dur,
             pj.ts_us - pa.ts_us >= 3600000000 AS ok,
             pa.event_id AS start_event
           FROM hop h
           JOIN xy pa ON pa.user_id = h.user_id AND pa.seq = h.a
           JOIN xy pj ON pj.user_id = h.user_id AND pj.seq = h.j - 1),
         anchors AS (
           SELECT user_id, CAST(1 AS BIGINT) AS a FROM nn WHERE n >= 1
           UNION ALL
           SELECT x.user_id, x.nxt FROM (
             SELECT an.user_id,
               CASE WHEN h.ok THEN h.j ELSE an.a + 1 END AS nxt, mx.n
             FROM anchors an
             JOIN hop2 h ON h.user_id = an.user_id AND h.a = an.a
             JOIN nn mx ON mx.user_id = an.user_id) x
           WHERE x.nxt <= x.n),
         sp AS (SELECT an.user_id, an.a AS start_seq, h.j - 1 AS end_seq,
             h.j - an.a AS n_points, CAST(h.dur AS BIGINT) AS dur_us,
             h.start_event
           FROM anchors an
           JOIN hop2 h ON h.user_id = an.user_id AND h.a = an.a
           WHERE h.ok)"""

  private val shingleCtes =
    s"""$pairsAllCtes,
       pairs0 AS (
         SELECT id1, id2, c, n1, n2 FROM pairs_all
         WHERE round(c / CAST(n1 + n2 - c AS DOUBLE), 6) >= 0.8)"""

  /** Applied dedup over the exact Jaccard ≥ 0.8 pair graph — shared by
    * `dedup_apply` AND `dedup_apply_minhash` (sketch-then-verify must
    * reproduce the full mine, so the two oracles are one definition). */
  private val dedupApplySql =
    s"""WITH RECURSIVE
       $shingleCtes,
       e AS (SELECT id1 AS src, id2 AS dst FROM pairs0
             UNION ALL SELECT id2, id1 FROM pairs0),
       reach(v, label) AS (
         SELECT DISTINCT src, src FROM e
         UNION
         SELECT e.src, r.label FROM e JOIN reach r ON e.dst = r.v),
       losers AS (
         SELECT v FROM reach GROUP BY v HAVING v <> min(label))
       SELECT doc_id, n_chars FROM documents
       WHERE doc_id NOT IN (SELECT v FROM losers)
       ORDER BY doc_id"""

  /** The batch funnel (chained conditional minimums) unpivoted to one
    * row per reached stage — shared by BOTH streaming funnel sinks. */
  // batch twin of the streaming geofence detector (both APIs): the same
  // ray cast as geo_geofence_count, lag(inside) per (user, fence), one
  // row per membership flip
  private val geofenceSinkSql =
    """WITH fc AS (SELECT f,
             CAST(114.0 AS DOUBLE) + ((f * 37) % 100) * CAST(0.001 AS DOUBLE)
               + CAST(0.003 AS DOUBLE) AS cx,
             CAST(22.0 AS DOUBLE) + f * CAST(0.015 AS DOUBLE)
               + CAST(0.005 AS DOUBLE) AS cy
           FROM (SELECT unnest(range(0, 6)) AS f)),
         e AS (SELECT f, cx, cy, unnest(range(0, 8)) AS i FROM fc),
         ed AS (SELECT f,
             cx + ([3,1,0,-1,-3,-1,0,1][CAST(i AS INT) + 1])
               * CAST(0.004 AS DOUBLE) AS x1,
             cy + ([0,1,3,1,0,-1,-3,-1][CAST(i AS INT) + 1])
               * CAST(0.004 AS DOUBLE) AS y1,
             cx + ([3,1,0,-1,-3,-1,0,1][CAST((i + 1) % 8 AS INT) + 1])
               * CAST(0.004 AS DOUBLE) AS x2,
             cy + ([0,1,3,1,0,-1,-3,-1][CAST((i + 1) % 8 AS INT) + 1])
               * CAST(0.004 AS DOUBLE) AS y2
           FROM e),
         p AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us,
             CAST(114.0 AS DOUBLE) + ((user_id * 7919) % 9973)
               * CAST(0.00001 AS DOUBLE) AS px,
             CAST(22.0 AS DOUBLE) + (event_id % 9973)
               * CAST(0.00001 AS DOUBLE) AS py
           FROM events),
         x AS (SELECT p.event_id, p.user_id, p.ts_us, ed.f,
             CASE WHEN (ed.y1 > p.py) != (ed.y2 > p.py)
                   AND p.px < ed.x1 + (p.py - ed.y1) * (ed.x2 - ed.x1)
                     / (ed.y2 - ed.y1)
                  THEN 1 ELSE 0 END AS c
           FROM p, ed),
         ip AS (SELECT event_id, user_id, ts_us, f,
             sum(c) % 2 = 1 AS inside
           FROM x GROUP BY 1, 2, 3, 4),
         lg AS (SELECT user_id, ts_us, event_id, f, inside,
             lag(inside) OVER w AS pinside
           FROM ip
           WINDOW w AS (PARTITION BY user_id, f ORDER BY ts_us, event_id))
         SELECT user_id, ts_us, event_id, f,
           CASE WHEN inside THEN 'enter' ELSE 'exit' END AS direction
         FROM lg WHERE pinside IS NOT NULL AND inside != pinside
         ORDER BY user_id, ts_us, event_id, f"""

  private val funnelSinkSql =
    """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
       s1 AS (SELECT user_id, min(ts_us) AS t1 FROM ev
              WHERE event_type = 'view' GROUP BY user_id),
       s2 AS (SELECT e.user_id, min(e.ts_us) AS t2 FROM ev e
              JOIN s1 ON e.user_id = s1.user_id
              WHERE e.event_type = 'click' AND e.ts_us > s1.t1
              GROUP BY e.user_id),
       s3 AS (SELECT e.user_id, min(e.ts_us) AS t3 FROM ev e
              JOIN s2 ON e.user_id = s2.user_id
              WHERE e.event_type = 'purchase' AND e.ts_us > s2.t2
              GROUP BY e.user_id)
       SELECT user_id, CAST(1 AS BIGINT) AS stage, t1 AS ts_us FROM s1
       UNION ALL SELECT user_id, 2, t2 FROM s2
       UNION ALL SELECT user_id, 3, t3 FROM s3
       ORDER BY user_id, stage"""

  /** Sequential double dot product of two FLOAT[] lists. */
  private def dotSql(a: String, b: String): String =
    s"""list_reduce(list_prepend(0.0, list_transform(list_zip($a, $b),
        p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), (x, y) -> x + y)"""

  private def cosSql(a: String, b: String): String =
    s"""(${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)})))"""

  /** Line-level dedup: verifies the surviving CONTENT byte-for-byte
    * (md5 of each doc's reassembled text), not just survivor counts.
    * Shared by `dedup_lines` and `dedup_lines_hashed`. */
  private val dedupLinesSql =
    s"""WITH tok AS (SELECT doc_id, $toks AS toks FROM documents),
       chunks AS (
         SELECT doc_id,
           unnest(list_transform(range(0, CAST((len(toks) + 9) // 10 AS INT)),
             i -> {'idx': i,
                   'chunk': array_to_string(toks[i*10+1 : i*10+10], ' ')}),
             recursive := true)
         FROM tok WHERE len(toks) >= 1),
       fk AS (SELECT chunk, min(doc_id * 1000000 + idx) AS first_key
         FROM chunks GROUP BY chunk),
       kept AS (SELECT c.doc_id, c.idx, c.chunk FROM chunks c JOIN fk
         ON c.chunk = fk.chunk AND c.doc_id * 1000000 + c.idx = fk.first_key),
       pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
         string_agg(chunk, ' ' ORDER BY idx) AS cleaned
         FROM kept GROUP BY doc_id)
       SELECT t.doc_id, CAST((len(t.toks) + 9) // 10 AS BIGINT) AS n_chunks,
         coalesce(pd.n_kept, 0) AS n_kept,
         md5(coalesce(pd.cleaned, '')) AS cleaned_md5
       FROM tok t LEFT JOIN pd ON t.doc_id = pd.doc_id
       ORDER BY t.doc_id"""

  /** One gaps-and-islands oracle for both sessionize-sink variants. */
  private val sessionizeOracleSql: String =
    """WITH g AS (
         SELECT user_id, event_id, epoch_us(ts) AS ts_us,
           CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                  OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                THEN 1 ELSE 0 END AS brk
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
       sess AS (
         SELECT *, CAST(sum(brk) OVER (
           PARTITION BY user_id ORDER BY ts_us, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS session_id
         FROM g)
       SELECT user_id, session_id, count(*) AS n_events,
         min(ts_us) AS start_us, max(ts_us) AS end_us,
         round(sum(CAST(event_id AS DOUBLE)), 2) AS value_sum
       FROM sess GROUP BY user_id, session_id
       ORDER BY user_id, session_id"""

  val all: Map[String, String] = Map(
    "text_stats" ->
      s"""WITH tok AS (SELECT doc_id, $toks AS toks FROM documents)
         SELECT doc_id,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         CAST(len(list_distinct(toks)) AS BIGINT) AS n_unique,
         CAST(${hits(en)} AS BIGINT) AS n_stop_en,
         CAST(list_sum(list_transform(toks, t -> len(t))) AS BIGINT) AS sum_tok_len,
         round((CAST(${hits(en)} AS DOUBLE) / len(toks)) * 0.5
               + least(len(toks), 100) * 0.005, 6) AS quality
         FROM tok ORDER BY doc_id""",

    // the apply half of text_stats: every keep/drop decision (and each
    // contributing rule) hash-checked — integer cross-multiplied
    // thresholds, so no tolerance anywhere
    "text_quality_filter" ->
      s"""WITH tok AS (SELECT doc_id, $toks AS toks FROM documents),
         st AS (SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS n_tokens,
             CAST(len(list_distinct(toks)) AS BIGINT) AS n_unique,
             CAST(${hits(en)} AS BIGINT) AS n_stop,
             CAST(coalesce(list_sum(list_transform(toks, t -> len(t))), 0)
               AS BIGINT) AS sum_len
           FROM tok)
         SELECT doc_id,
           (n_tokens >= 5 AND n_tokens <= 512) AS r_len,
           (n_stop * 20 >= n_tokens) AS r_stop,
           (n_unique * 2 > n_tokens) AS r_unique,
           (sum_len <= n_tokens * 12) AS r_wordlen,
           ((n_tokens >= 5 AND n_tokens <= 512) AND (n_stop * 20 >= n_tokens)
             AND (n_unique * 2 > n_tokens) AND (sum_len <= n_tokens * 12))
             AS keep
         FROM st ORDER BY doc_id""",

    // hashed bag-of-words linear model apply: the frozen integer weight
    // table is embedded as a literal list (the sim_lsh_topk hyperplane
    // precedent), token → bucket is the shared 60-bit md5-prefix hash,
    // and the score is an exact integer fold — zero tolerance
    "text_quality_model" ->
      s"""WITH w AS (SELECT $qmWeights AS wt),
         tok AS (SELECT doc_id, $toks AS toks FROM documents),
         sc AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
             $qmScore AS score
           FROM tok, w)
         SELECT doc_id, n_tokens, score, score > 0 AS model_keep
         FROM sc ORDER BY doc_id""",

    // the 16th streaming sink is pinned to the SAME oracle: the stream
    // lifecycle must reproduce the batch model scores byte-for-byte
    "stream_quality_sink" ->
      s"""WITH w AS (SELECT $qmWeights AS wt),
         tok AS (SELECT doc_id, $toks AS toks FROM documents),
         sc AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
             $qmScore AS score
           FROM tok, w)
         SELECT doc_id, n_tokens, score, score > 0 AS model_keep
         FROM sc ORDER BY doc_id""",

    // streaming decode-at-ingest is pinned to the SAME truth as the
    // batch mm_decode_meta: closed-form dims + lossless pixel checksums
    "stream_decode_sink" ->
      """WITH d AS (SELECT doc_id, doc_id % 57 + 8 AS w, doc_id % 41 + 6 AS h
               FROM documents),
         px AS (SELECT doc_id, w, h, x, y, c
               FROM d, unnest(range(0, w)) rx(x), unnest(range(0, h)) ry(y),
                 unnest([0, 1, 2]) rc(c))
         SELECT doc_id,
           CASE WHEN doc_id % 3 = 0 THEN 'png'
                WHEN doc_id % 3 = 1 THEN 'bmp' ELSE 'jpg' END AS fmt,
           CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
           CAST(3 AS BIGINT) AS channels,
           CASE WHEN doc_id % 3 = 2 THEN CAST(-1 AS BIGINT)
                ELSE CAST(sum((doc_id*31 + x*7 + y*13 + c*5) % 256) AS BIGINT)
           END AS pix_sum
         FROM px GROUP BY doc_id, w, h ORDER BY doc_id""",

    // the curation funnel composes the dedup_exact / text_decontaminate /
    // text_quality_filter / text_quality_model oracles in the engine's
    // fixed stage order
    "pipeline_curation_report" ->
      s"""WITH w AS (SELECT $qmWeights AS wt),
         tok AS (SELECT doc_id, source, $toks AS toks
             FROM documents),
         keepers AS (SELECT min(doc_id) AS doc_id
           FROM documents GROUP BY md5(text)),
         sh0 AS (SELECT doc_id AS id, unnest(list_distinct(list_transform(
             range(1, len(toks) - 1),
             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS s
           FROM tok WHERE len(toks) >= 3),
         bench AS (SELECT DISTINCT s FROM sh0 WHERE id % 97 = 0),
         contaminated AS (
           SELECT DISTINCT id FROM sh0 JOIN bench USING (s)
           WHERE id % 97 <> 0),
         d1 AS (SELECT t.* FROM tok t
           WHERE doc_id IN (SELECT doc_id FROM keepers)),
         d2 AS (SELECT * FROM d1 WHERE doc_id % 97 <> 0
           AND doc_id NOT IN (SELECT id FROM contaminated)),
         st AS (SELECT doc_id, source,
             CAST(len(toks) AS BIGINT) AS n_tokens,
             CAST(len(list_distinct(toks)) AS BIGINT) AS n_unique,
             CAST(${hits(en)} AS BIGINT) AS n_stop,
             CAST(coalesce(list_sum(list_transform(toks, t -> len(t))), 0)
               AS BIGINT) AS sum_len,
             $qmScore AS score
           FROM d2, w),
         d3 AS (SELECT * FROM st
           WHERE n_tokens >= 5 AND n_tokens <= 512
             AND n_stop * 20 >= n_tokens AND n_unique * 2 > n_tokens
             AND sum_len <= n_tokens * 12),
         d4 AS (SELECT * FROM d3 WHERE score > 0),
         raw AS (SELECT source, count(*) AS n_raw FROM tok GROUP BY source),
         c1 AS (SELECT source, count(*) AS n_dedup FROM d1 GROUP BY source),
         c2 AS (SELECT source, count(*) AS n_decon FROM d2 GROUP BY source),
         c3 AS (SELECT source, count(*) AS n_quality FROM d3 GROUP BY source),
         c4 AS (SELECT source, count(*) AS n_model,
             CAST(sum(n_tokens) AS BIGINT) AS tokens_out
           FROM d4 GROUP BY source)
         SELECT source, n_raw,
           coalesce(n_dedup, 0) AS n_dedup,
           coalesce(n_decon, 0) AS n_decon,
           coalesce(n_quality, 0) AS n_quality,
           coalesce(n_model, 0) AS n_model,
           coalesce(tokens_out, 0) AS tokens_out
         FROM raw LEFT JOIN c1 USING (source) LEFT JOIN c2 USING (source)
           LEFT JOIN c3 USING (source) LEFT JOIN c4 USING (source)
         ORDER BY source""",

    // exact integer counts and ppm ratios per source
    "text_diversity_by_source" ->
      s"""WITH tok AS (SELECT source, $toks AS toks FROM documents),
         base AS (SELECT source, count(*) AS n_docs,
             CAST(sum(len(toks)) AS BIGINT) AS n_tokens
           FROM tok GROUP BY source),
         dt AS (SELECT source, count(DISTINCT tok) AS distinct_tokens
           FROM (SELECT source, unnest(toks) AS tok FROM tok)
           GROUP BY source),
         bi AS (SELECT source, CAST(count(*) AS BIGINT) AS n_bigrams,
             count(DISTINCT bg) AS distinct_bigrams
           FROM (SELECT source, unnest(list_transform(
               range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])) AS bg
             FROM tok WHERE len(toks) >= 2)
           GROUP BY source)
         SELECT source, n_docs, n_tokens, distinct_tokens,
           (distinct_tokens * 1000000) // n_tokens AS ttr_ppm,
           n_bigrams, distinct_bigrams,
           (distinct_bigrams * 1000000) // n_bigrams AS bigram_ttr_ppm
         FROM base JOIN dt USING (source) JOIN bi USING (source)
         ORDER BY source""",

    "text_lang_id" ->
      s"""WITH tok AS (SELECT lang, $toks AS toks FROM documents),
         sc AS (SELECT lang,
           ${hits(de)} AS s_de, ${hits(en)} AS s_en,
           ${hits(es)} AS s_es, ${hits(fr)} AS s_fr FROM tok),
         pred AS (SELECT lang,
           CASE WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
                WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
                WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
                WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
                ELSE 'fr' END AS lang_pred FROM sc)
         SELECT lang, lang_pred, count(*) AS n FROM pred
         GROUP BY lang, lang_pred ORDER BY lang, lang_pred""",

    "text_subword" ->
      """WITH sub AS (SELECT doc_id,
           list_filter(string_split_regex(
             regexp_replace(lower(text),
               '([a-z]+|[0-9]+|[^a-z0-9\s])', ' \1 ', 'g'),
             '\s+'), x -> x <> '') AS toks
         FROM documents)
         SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_subwords,
           CAST(len(list_distinct(toks)) AS BIGINT) AS n_unique,
           md5(array_to_string(toks, ' ')) AS stream_md5
         FROM sub ORDER BY doc_id""",

    "text_fingerprint" ->
      s"""WITH tok AS (SELECT doc_id, $toks AS toks FROM documents)
         SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
         list_reduce(list_prepend(CAST(0 AS BIGINT),
           list_transform(toks,
             t -> CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) % 1000000007)),
           (acc, h) -> (acc * 31 + h) % 1000000007) AS fingerprint
         FROM tok ORDER BY doc_id""",

    // rarity: bit-exact (no rounding) — correctly-rounded division per
    // token + sorted sequential fold, the dedup_embedding cosine pattern
    "text_rarity" ->
      s"""WITH tk AS (SELECT doc_id, unnest($toks) AS tok FROM documents),
         f AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt
           FROM tk GROUP BY tok),
         tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM f),
         w AS (SELECT tk.doc_id, (SELECT total FROM tot) / f.cnt AS w
           FROM tk JOIN f USING (tok)),
         pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
           list_sort(list(w)) AS ws FROM w GROUP BY doc_id)
         SELECT doc_id, n_tokens,
           list_reduce(list_prepend(0.0, ws), (a, b) -> a + b) / n_tokens
             AS rarity
         FROM pd ORDER BY doc_id""",

    // bigram LM scoring: the model (history counts, bigram counts, vocab)
    // is recomputed in SQL and every doc's mean smoothed bigram
    // probability folded in sorted order — pure-rational arithmetic, so
    // the hashes match bit-for-bit (see the query scaladoc for why mean-P
    // rather than mean-log-P)
    "text_lm_bigram" ->
      s"""WITH tok AS (SELECT doc_id, $toks AS toks FROM documents),
         bi AS (SELECT doc_id,
             unnest(list_transform(range(1, len(toks)),
               i -> {'w1': toks[i], 'w2': toks[i+1]}), recursive := true)
           FROM tok WHERE len(toks) >= 2),
         voc AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v
           FROM (SELECT unnest(toks) AS tok FROM tok)),
         uni AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1
           FROM bi GROUP BY w1),
         big AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
           FROM bi GROUP BY w1, w2),
         p AS (SELECT bi.doc_id,
             CAST(big.c12 + 1 AS DOUBLE) /
               CAST(uni.c1 + (SELECT v FROM voc) AS DOUBLE) AS p
           FROM bi JOIN big USING (w1, w2) JOIN uni USING (w1)),
         pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           list_sort(list(p)) AS ps FROM p GROUP BY doc_id)
         SELECT doc_id, n_bigrams,
           list_reduce(list_prepend(0.0, ps), (a, b) -> a + b) / n_bigrams
             AS mean_bigram_p
         FROM pd ORDER BY doc_id""",

    // replays Ext.bpeMerges' delimiter-wrap replace chain verbatim
    // (generated from the same Seq, so engine and oracle cannot drift)
    // and hashes the full per-doc subword stream
    "text_bpe_apply" -> {
      val d = "chr(31)"
      val wrapped = "concat(" + d + ", array_to_string(" +
        "list_filter(string_split(w, ''), x -> x <> ''), " +
        d + "||" + d + "), " + d + ")"
      val merged = Ext.bpeMerges.foldLeft(wrapped) { case (c, (a, b)) =>
        s"replace($c, $d||'$a'||$d||$d||'$b'||$d, $d||'${a + b}'||$d)"
      }
      val sub = s"replace(replace($merged, $d||$d, ' '), $d, '')"
      s"""WITH tok AS (SELECT doc_id, $toks AS toksf FROM documents),
         enc AS (SELECT doc_id,
             list_transform(toksf, w -> $sub) AS subw
           FROM tok)
         SELECT doc_id, CAST(len(subw) AS BIGINT) AS n_words,
           CAST(coalesce(list_sum(list_transform(subw,
             sw -> len(string_split(sw, ' ')))), 0) AS BIGINT) AS n_subwords,
           md5(array_to_string(subw, ' / ')) AS tok_md5
         FROM enc ORDER BY doc_id"""
    },

    // trained-table BPE apply: the SAME captured 500-merge literal the
    // trainer gate pins, replayed by a recursive CTE — one iteration
    // per merge rank over every delimiter-wrapped chunk unit, then the
    // per-doc subword stream is hashed exactly like text_bpe_apply.
    // Engine applies the ladder in a typed map (a 500-deep replace
    // Column chain would blow codegen); the oracle applies it in SQL —
    // two independent implementations of one ladder.
    "text_bpe_apply_trained" -> {
      val d = "chr(31)"
      val steps = Ext.BpeTargetMerges
      s"""WITH RECURSIVE
         m AS (SELECT merge_round, lhs, rhs
           FROM (VALUES $bpeTrainedRows) AS t(merge_round, lhs, rhs, n)),
         tok AS (SELECT doc_id, $toks AS toksf FROM documents),
         u AS (SELECT doc_id, g AS unit_idx,
             array_to_string(toksf[CAST(g*4+1 AS BIGINT) :
               CAST(g*4+4 AS BIGINT)], '\u2581') AS unit
           FROM tok, unnest(range(0,
             (CAST(len(toksf) AS BIGINT) + 3) // 4)) rg(g)),
         enc AS (
           SELECT doc_id, unit_idx,
             concat($d, array_to_string(list_filter(string_split(unit, ''),
               x -> x <> ''), $d || $d), $d) AS seg,
             0 AS step
           FROM u
           UNION ALL
           SELECT e.doc_id, e.unit_idx,
             replace(e.seg, $d || m.lhs || $d || $d || m.rhs || $d,
               $d || m.lhs || m.rhs || $d),
             e.step + 1
           FROM enc e JOIN m ON m.merge_round = e.step + 1),
         fin AS (SELECT doc_id, unit_idx,
             replace(replace(seg, $d || $d, ' '), $d, '') AS sw
           FROM enc WHERE step = $steps),
         agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_units,
             CAST(sum(len(string_split(sw, ' '))) AS BIGINT) AS n_subwords,
             md5(string_agg(sw, ' / ' ORDER BY unit_idx)) AS tok_md5
           FROM fin GROUP BY doc_id)
         SELECT t.doc_id, coalesce(a.n_units, 0) AS n_units,
           coalesce(a.n_subwords, 0) AS n_subwords,
           coalesce(a.tok_md5, md5('')) AS tok_md5
         FROM tok t LEFT JOIN agg a USING (doc_id) ORDER BY doc_id"""
    },

    "dedup_lines" -> dedupLinesSql,

    // shared by reference (the dedupApplySql pattern): the hashed-key
    // variant only narrows the shuffle key (xxhash64 vs chunk string) —
    // its output must be byte-identical to the string path's
    "dedup_lines_hashed" -> dedupLinesSql,

    // sliding-window chunking: geometry is integer arithmetic, content
    // is md5 of the joined token slice — both byte-comparable
    "text_chunk_overlap" ->
      s"""WITH tok AS (SELECT doc_id, $toks AS toks FROM documents),
         c AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n, toks,
           unnest(range(0, CAST(len(toks) AS BIGINT), 48)) AS start_tok
           FROM tok WHERE len(toks) >= 1)
         SELECT doc_id, start_tok // 48 AS chunk_idx, start_tok,
           least(64, n - start_tok) AS n_tok,
           md5(array_to_string(toks[start_tok+1 : start_tok+64], ' '))
             AS chunk_md5
         FROM c ORDER BY doc_id, chunk_idx""",

    // the engine's distributed two-phase prefix sum must equal the
    // single-stream cumulative sum a sequential packer would compute
    // whole-doc next-fit packing replayed EXACTLY: a recursive CTE steps
    // every source's rank-i doc in one iteration (per-source state rides
    // the recursion; |sources| rows advance per step, so iterations =
    // max docs per source, not total docs)
    "text_pack_greedy" ->
      s"""WITH RECURSIVE d AS (SELECT doc_id, source,
             CAST(len($toks) AS BIGINT) AS ntok,
             row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
           FROM documents),
         st(doc_id, source, ntok, rn, seq, off) AS (
           SELECT doc_id, source, ntok, rn, CAST(0 AS BIGINT),
             CAST(0 AS BIGINT)
           FROM d WHERE rn = 1
           UNION ALL
           SELECT d.doc_id, d.source, d.ntok, d.rn,
             CASE WHEN st.off + st.ntok > 0
                   AND st.off + st.ntok + d.ntok > 256
                  THEN st.seq + 1 ELSE st.seq END,
             CASE WHEN st.off + st.ntok > 0
                   AND st.off + st.ntok + d.ntok > 256
                  THEN CAST(0 AS BIGINT) ELSE st.off + st.ntok END
           FROM st JOIN d ON d.source = st.source AND d.rn = st.rn + 1)
         SELECT doc_id, source, ntok AS n_tokens, seq AS seq_id,
           off AS seq_off
         FROM st ORDER BY doc_id""",

    "text_pack_sequences" ->
      s"""WITH t AS (SELECT doc_id, CAST(len($toks) AS BIGINT) AS n_tokens
           FROM documents),
         c AS (SELECT doc_id, n_tokens,
           CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) AS cum_before FROM t)
         SELECT doc_id, n_tokens,
           cum_before // 2048 AS seq_start,
           CASE WHEN n_tokens = 0 THEN cum_before // 2048
                ELSE (cum_before + n_tokens - 1) // 2048 END AS seq_end,
           cum_before % 2048 AS seq_off
         FROM c ORDER BY doc_id""",

    // epoch-factor upsampling: one manifest row per (doc, epoch)
    "mix_oversample" ->
      """SELECT doc_id, source,
         CAST((COALESCE(TRY_CAST(regexp_extract(source, '([0-9]+)', 1) AS INT), 0) % 3) + 1
           AS BIGINT) AS factor,
         CAST(unnest(range(
           (COALESCE(TRY_CAST(regexp_extract(source, '([0-9]+)', 1) AS INT), 0) % 3) + 1))
           AS BIGINT) AS epoch
         FROM documents ORDER BY doc_id, epoch""",

    // token-proportional systematic sampling over the same single-stream
    // cumsum — selection is a pure integer predicate
    "sample_weighted_tokens" ->
      s"""WITH t AS (SELECT doc_id, CAST(len($toks) AS BIGINT) AS n_tokens
           FROM documents),
         c AS (SELECT doc_id, n_tokens,
           CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) AS cum_before FROM t)
         SELECT doc_id, n_tokens, cum_before,
           ((cum_before + 1023) // 1024) AS grid_idx
         FROM c
         WHERE n_tokens > 0
           AND ((cum_before + 1023) // 1024) * 1024 < cum_before + n_tokens
         ORDER BY doc_id""",

    "text_repetition" ->
      s"""WITH tok AS (SELECT doc_id, $toks AS toks FROM documents)
         SELECT doc_id,
           CAST(len(toks) - 2 AS BIGINT) AS n_3grams,
           CAST(len(list_distinct(list_transform(
             range(1, len(toks) - 1),
             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS BIGINT)
             AS n_distinct,
           round(1.0 - CAST(len(list_distinct(list_transform(
             range(1, len(toks) - 1),
             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS DOUBLE)
             / (len(toks) - 2), 6) AS dup_ratio
         FROM tok WHERE len(toks) >= 3 ORDER BY doc_id""",

    "text_contamination" ->
      s"""WITH tok AS (SELECT doc_id AS id, $toks AS toks FROM documents),
         sh0 AS (SELECT id, unnest(list_distinct(list_transform(
             range(1, len(toks) - 1),
             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS s
           FROM tok WHERE len(toks) >= 3),
         bench AS (SELECT DISTINCT s FROM sh0 WHERE id % 97 = 0)
         SELECT id AS doc_id, count(*) AS n_shared
         FROM sh0 JOIN bench USING (s)
         WHERE id % 97 <> 0
         GROUP BY id ORDER BY doc_id""",

    "text_decontaminate" ->
      s"""WITH tok AS (SELECT doc_id AS id, $toks AS toks FROM documents),
         sh0 AS (SELECT id, unnest(list_distinct(list_transform(
             range(1, len(toks) - 1),
             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS s
           FROM tok WHERE len(toks) >= 3),
         bench AS (SELECT DISTINCT s FROM sh0 WHERE id % 97 = 0),
         contaminated AS (
           SELECT DISTINCT id FROM sh0 JOIN bench USING (s)
           WHERE id % 97 <> 0)
         SELECT doc_id, n_chars FROM documents
         WHERE doc_id % 97 <> 0
           AND doc_id NOT IN (SELECT id FROM contaminated)
         ORDER BY doc_id""",

    // compaction audit: the compacted files must hold exactly the source
    // table's rows — count + order-free 60-bit-md5 bit_xor digest are
    // SQL-expressible over the SOURCE; the file-layout booleans
    // (count reduced, per-file size bound) are pinned TRUE
    // the partitioned round trip must be value-identical to the
    // unpartitioned source
    "src_partition_pruned_read" ->
      """SELECT event_type, count(*) AS n,
         count(DISTINCT user_id) AS n_users,
         CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
           AS value_cents
         FROM events WHERE event_type = 'click'
         GROUP BY event_type ORDER BY event_type""",

    "src_compact_small_files" ->
      """SELECT count(*) AS n_rows,
         bit_xor(CAST('0x' || substr(md5(text), 1, 15) AS BIGINT))
           AS content_xor,
         TRUE AS compacted_ok, TRUE AS balanced_ok
         FROM documents""",

    // Bloom decontamination audit: exact_hit is fully SQL-expressible;
    // the Bloom-side booleans (no-false-negative superset + FP-rate cap)
    // are computed Spark-side and pinned TRUE (boolean-pin pattern)
    "text_decontaminate_bloom" ->
      s"""WITH tok AS (SELECT doc_id AS id, $toks AS toks FROM documents),
         sh0 AS (SELECT id, unnest(list_distinct(list_transform(
             range(1, len(toks) - 1),
             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS s
           FROM tok WHERE len(toks) >= 3),
         bench AS (SELECT DISTINCT s FROM sh0 WHERE id % 97 = 0),
         contaminated AS (
           SELECT DISTINCT id FROM sh0 JOIN bench USING (s)
           WHERE id % 97 <> 0)
         SELECT doc_id, (doc_id IN (SELECT id FROM contaminated)) AS exact_hit,
           TRUE AS superset_ok, TRUE AS fp_ok
         FROM documents WHERE doc_id % 97 <> 0 ORDER BY doc_id""",

    // exact token-weighted quality percentiles: per-source window cumsum
    // over (q, doc_id) must equal the engine's two-phase distributed
    // weight prefix sum; selections are integer cross-multiplications
    "agg_weighted_median" ->
      s"""WITH tok AS (SELECT doc_id, source, $toks AS toks FROM documents),
         base AS (SELECT source, doc_id,
             CAST(len(toks) AS BIGINT) AS ntok,
             round((CAST(${hits(en)} AS DOUBLE) / len(toks)) * 0.5
               + least(len(toks), 100) * 0.005, 6) AS q
           FROM tok),
         cum AS (SELECT source, q, ntok,
             sum(ntok) OVER (PARTITION BY source ORDER BY q, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
             sum(ntok) OVER (PARTITION BY source) AS tw
           FROM base)
         SELECT source, CAST(max(tw) AS BIGINT) AS total_tokens,
           min(CASE WHEN cw * 2 >= tw THEN q END) AS wmedian_q,
           min(CASE WHEN cw * 10 >= tw * 9 THEN q END) AS wp90_q
         FROM cum GROUP BY source ORDER BY source""",

    // higher-order list lambdas; integer folds only, empty list -> 0
    "fn_array_hof" ->
      s"""WITH tok AS (SELECT doc_id, $toks AS toks FROM documents)
         SELECT doc_id,
           CAST(len(list_filter(toks, x -> length(x) > 4)) AS BIGINT)
             AS n_long_tokens,
           CAST(COALESCE(list_aggregate(
             list_transform(toks, x -> length(x)), 'sum'), 0) AS BIGINT)
             AS total_chars,
           CAST(list_max(list_transform(toks, x -> length(x))) AS BIGINT)
             AS max_len,
           len(list_filter(toks, x -> regexp_matches(x, '[0-9]'))) > 0
             AS has_digit
         FROM tok ORDER BY doc_id""",

    // vocab coverage: top-500 vocabulary (count desc, token asc — UTF-8
    // bytewise ties in both engines), per-source OOV exposure in ppm
    "text_vocab_coverage" ->
      s"""WITH tok AS (SELECT source, unnest($toks) AS token FROM documents),
         g AS (SELECT token, count(*) AS n FROM tok GROUP BY token),
         v AS (SELECT token, 1 AS in_v FROM g ORDER BY n DESC, token LIMIT 500)
         SELECT source, CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN v.in_v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
           CAST(count(DISTINCT CASE WHEN v.in_v IS NULL THEN t.token END) AS BIGINT) AS n_oov_types,
           CAST(sum(CASE WHEN v.in_v IS NULL THEN 1 ELSE 0 END) * 1000000
             // count(*) AS BIGINT) AS oov_ppm
         FROM tok t LEFT JOIN v ON t.token = v.token
         GROUP BY source ORDER BY source""",

    "text_top_tokens" ->
      s"""WITH tok AS (SELECT doc_id, unnest($toks) AS token FROM documents)
         SELECT token, count(*) AS n, count(DISTINCT doc_id) AS df
         FROM tok GROUP BY token
         ORDER BY n DESC, token LIMIT 20""",

    // CMS heavy-hitter audit: the exact top-20 is SQL-expressible; the
    // sketch-accuracy booleans (no-undercount + ε·N cap) are computed
    // Spark-side and pinned TRUE (boolean-pin pattern)
    "text_top_tokens_cms" ->
      s"""WITH tok AS (SELECT doc_id, unnest($toks) AS token FROM documents)
         SELECT token, count(*) AS n,
           TRUE AS est_ge_ok, TRUE AS est_within_ok
         FROM tok GROUP BY token
         ORDER BY n DESC, token LIMIT 20""",

    // identical pattern strings as Text.PiiRules (RE2 ∩ java.util.regex
    // subset); the synthetic PII suffix is reproduced verbatim
    "text_redact_pii" ->
      """WITH p AS (SELECT doc_id, text ||
           CASE WHEN doc_id % 3 = 0
                  THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
                WHEN doc_id % 3 = 1
                  THEN ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-4567 today'
                ELSE ' host 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7 up'
           END AS txt
         FROM documents)
         SELECT doc_id,
           CAST(len(regexp_extract_all(txt,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
           CAST(len(regexp_extract_all(txt,
             '[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phone,
           CAST(len(regexp_extract_all(txt,
             '([0-9]{1,3}\.){3}[0-9]{1,3}')) AS BIGINT) AS n_ip,
           md5(regexp_replace(regexp_replace(regexp_replace(txt,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g'),
             '([0-9]{1,3}\.){3}[0-9]{1,3}', '<IP>', 'g')) AS redacted_md5
         FROM p ORDER BY doc_id""",

    // NFC normalization: plant the SAME decomposed sequences (base letter
    // + combining mark, chr 769/768/770 = U+0301/U+0300/U+0302), then
    // compose with DuckDB's nfc_normalize — byte-identical md5 only if
    // both engines implement Unicode canonical composition identically.
    "text_normalize_nfc" ->
      """WITH dec AS (SELECT doc_id,
           CASE WHEN doc_id % 4 = 1 THEN replace(text, 'a', 'a' || chr(769))
                WHEN doc_id % 4 = 2 THEN replace(text, 'e', 'e' || chr(768))
                WHEN doc_id % 4 = 3 THEN replace(text, 'o', 'o' || chr(770))
                ELSE text END AS t
         FROM documents)
         SELECT doc_id,
           CAST(length(t) AS BIGINT) AS raw_len,
           CAST(length(nfc_normalize(t)) AS BIGINT) AS nfc_len,
           CAST(nfc_normalize(t) <> t AS INT) AS changed,
           md5(nfc_normalize(t)) AS nfc_md5
         FROM dec ORDER BY doc_id""",

    "text_url_domains" ->
      """WITH p AS (SELECT doc_id,
           CASE WHEN doc_id % 5 = 0
                THEN text || ' see https://site' || CAST(doc_id % 50 AS VARCHAR)
                       || '.example.org/page ok'
                ELSE text END AS txt
         FROM documents),
         d AS (SELECT doc_id,
             regexp_extract(txt, 'https?://([A-Za-z0-9.-]+)[/ ]', 1) AS domain
           FROM p)
         SELECT domain, count(*) AS n_docs, min(doc_id) AS first_doc
         FROM d WHERE domain IS NOT NULL AND domain <> ''
         GROUP BY domain ORDER BY domain""",

    "sample_stratified" ->
      """SELECT lang, count(*) AS n_total,
         CAST(sum(kept) AS BIGINT) AS n_kept,
         CAST(sum(CASE WHEN kept = 1 THEN n_chars ELSE 0 END) AS BIGINT)
           AS kept_chars
         FROM (SELECT lang, n_chars,
           CASE WHEN CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) % 1000
                  < (CASE WHEN lang = 'en' THEN 50 ELSE 200 END)
                THEN 1 ELSE 0 END AS kept
           FROM documents)
         GROUP BY lang ORDER BY lang""",

    "sample_systematic" ->
      """SELECT doc_id, n_chars FROM documents
         WHERE CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) % 10 = 0
         ORDER BY doc_id""",

    // fixed-k per-group reservoir: deterministic md5(doc_id) order,
    // exactly 20 per source — rank and hash string both value-checked
    "sample_reservoir_group" ->
      """SELECT doc_id, source, md5(CAST(doc_id AS VARCHAR)) AS m,
           row_number() OVER (PARTITION BY source
             ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
         FROM documents
         QUALIFY rn <= 20
         ORDER BY source, rn""",

    // quality-ordered budget selection: the single-stream window cumsum
    // over (quality DESC, doc_id) must equal the engine's two-phase
    // distributed prefix sum, and the keep rule (fits entirely inside
    // total*2/5 tokens) is integer arithmetic — every selected row
    // hash-checked
    "mix_quality_budget" ->
      s"""WITH tok AS (SELECT doc_id, $toks AS toks FROM documents),
         st AS (SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS n_tokens,
             round((CAST(${hits(en)} AS DOUBLE) / len(toks)) * 0.5
               + least(len(toks), 100) * 0.005, 6) AS q
           FROM tok),
         tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) * 2 // 5 AS b FROM st),
         c AS (SELECT doc_id, n_tokens, q,
             CAST(coalesce(sum(n_tokens) OVER (ORDER BY q DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS cum_before
           FROM st)
         SELECT doc_id, n_tokens, q, cum_before FROM c
         WHERE cum_before + n_tokens <= (SELECT b FROM tot)
         ORDER BY doc_id""",

    // rate arithmetic written in the engine's exact operation order
    // (cast→multiply→divide→least→×1e6→floor) so the integer thresholds,
    // and therefore every sampling decision, match bit-for-bit
    // Gini as an exact integer pair over rank-by-mass (tie blocks are
    // permutation-invariant), HHI floored to ppm by integer division —
    // no float leaves either engine
    "mix_gini_concentration" ->
      s"""WITH d AS (SELECT lang, source, CAST(len($toks) AS BIGINT) AS ntok
           FROM documents),
         per AS (SELECT lang, source, CAST(sum(ntok) AS BIGINT) AS x
           FROM d GROUP BY lang, source),
         rk AS (SELECT lang, x,
           row_number() OVER (PARTITION BY lang ORDER BY x, source) AS i,
           CAST(sum(x) OVER (PARTITION BY lang) AS BIGINT) AS t
           FROM per),
         sh AS (SELECT lang, x, i, t, (1000000 * x) // t AS sp FROM rk),
         ag AS (SELECT lang, count(*) AS n_sources,
           CAST(sum(x) AS BIGINT) AS total_tokens,
           max(x) AS max_tokens,
           CAST(sum(i * x) AS BIGINT) AS six,
           CAST(sum(sp * sp) AS BIGINT) AS spp
           FROM sh GROUP BY lang)
         SELECT lang, n_sources, total_tokens, max_tokens,
           six * 2 - (n_sources + 1) * total_tokens AS gini_num,
           n_sources * total_tokens AS gini_den,
           spp // 1000000 AS hhi_ppm
         FROM ag ORDER BY lang""",

    "mix_domains" ->
      s"""WITH d AS (SELECT source, CAST(len($toks) AS BIGINT) AS ntok,
           CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) % 1000000
             AS bucket
           FROM documents),
         per AS (SELECT source, count(*) AS n_total,
           CAST(sum(ntok) AS BIGINT) AS tokens_total,
           1 + CAST(regexp_extract(source, '([0-9]+)', 1) AS BIGINT) % 3 AS w
           FROM d GROUP BY source),
         tot AS (SELECT CAST(sum(tokens_total) AS BIGINT) // 2 AS budget,
           CAST(sum(w) AS BIGINT) AS sumw FROM per),
         r AS (SELECT source, n_total, tokens_total,
           CAST(floor(least(1.0,
             (CAST(w AS DOUBLE) * budget) /
               (CAST(sumw AS DOUBLE) * tokens_total)) * 1000000) AS BIGINT)
             AS threshold
           FROM per, tot)
         SELECT source, n_total, tokens_total, threshold,
           CAST(sum(CASE WHEN bucket < threshold THEN 1 ELSE 0 END)
             AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN bucket < threshold THEN ntok ELSE 0 END)
             AS BIGINT) AS kept_tokens
         FROM d JOIN r USING (source)
         GROUP BY source, n_total, tokens_total, threshold
         ORDER BY source""",

    // α=0.5 temperature resampling: sqrt is IEEE-correctly-rounded (a
    // general pow is not), and the Σ over sources is the same
    // source-ordered left fold Spark runs driver-side — so thresholds,
    // and every keep decision, hash-match bit-for-bit
    "mix_temperature" ->
      s"""WITH d AS (SELECT source, CAST(len($toks) AS BIGINT) AS ntok,
           CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) % 1000000
             AS bucket
           FROM documents),
         per AS (SELECT source, count(*) AS n_total,
           CAST(sum(ntok) AS BIGINT) AS tokens_total
           FROM d GROUP BY source),
         tot AS (SELECT CAST(sum(tokens_total) AS BIGINT) // 2 AS budget,
           list_reduce(list_prepend(0.0,
             list(sqrt(CAST(tokens_total AS DOUBLE)) ORDER BY source)),
             (a, b) -> a + b) AS sumsqrt FROM per),
         r AS (SELECT source, n_total, tokens_total,
           CAST(floor(least(1.0,
             (sqrt(CAST(tokens_total AS DOUBLE)) * CAST(budget AS DOUBLE)) /
               (sumsqrt * CAST(tokens_total AS DOUBLE))) * 1000000) AS BIGINT)
             AS threshold
           FROM per, tot)
         SELECT source, n_total, tokens_total, threshold,
           CAST(sum(CASE WHEN bucket < threshold THEN 1 ELSE 0 END)
             AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN bucket < threshold THEN ntok ELSE 0 END)
             AS BIGINT) AS kept_tokens
         FROM d JOIN r USING (source)
         GROUP BY source, n_total, tokens_total, threshold
         ORDER BY source""",

    // same md5-prefix content order as the engine; k = min class size
    "sample_balanced_classes" ->
      """WITH k AS (SELECT min(n) AS k FROM
           (SELECT count(*) AS n FROM embeddings GROUP BY label)),
         r AS (SELECT CAST(label AS BIGINT) AS label, vec_id,
             row_number() OVER (PARTITION BY label ORDER BY
               CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)
                 AS BIGINT), vec_id) AS rn
           FROM embeddings)
         SELECT label, vec_id FROM r WHERE rn <= (SELECT k FROM k)
         ORDER BY label, vec_id""",

    "split_train_test" ->
      """SELECT split, count(*) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS n_chars
         FROM (SELECT n_chars,
           CASE WHEN b <= 7 THEN 'train' WHEN b = 8 THEN 'val'
                ELSE 'test' END AS split
           FROM (SELECT n_chars,
             CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
               % 10 AS b
             FROM documents))
         GROUP BY split ORDER BY split""",

    // group-disjoint twin: the bucket hashes source, so each source
    // lands in exactly one split
    "split_domain_disjoint" ->
      """SELECT split, count(DISTINCT source) AS n_sources,
         count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS n_chars
         FROM (SELECT source, n_chars,
           CASE WHEN b <= 7 THEN 'train' WHEN b = 8 THEN 'val'
                ELSE 'test' END AS split
           FROM (SELECT source, n_chars,
             CAST('0x' || substr(md5(source), 1, 15) AS BIGINT)
               % 10 AS b
             FROM documents))
         GROUP BY split ORDER BY split""",

    "dedup_exact" ->
      """SELECT md5(text) AS text_md5, min(doc_id) AS keeper_id,
         count(*) AS n_copies
         FROM documents GROUP BY md5(text) ORDER BY keeper_id""",

    "dedup_ngram_jaccard" ->
      s"""WITH $shingleCtes
         SELECT id1, id2, c, n1, n2,
           round(c / CAST(n1 + n2 - c AS DOUBLE), 6) AS jaccard
         FROM pairs0
         ORDER BY id1, id2""",

    // MinHash-LSH value gate (r11 — rows-only 7 -> 5): the candidate
    // pair table as a literal CAPTURED FROM THE INDEPENDENT SketchRef
    // pipeline (public-spec xxHash64, value-tuple banding — see
    // CaptureSketches; the text_bpe_train precedent: the literal comes
    // from the twin implementation, never from the engine, so the
    // driver's hash gate is a genuine cross-implementation pin of
    // tokenize → shingle → 32-hash signature → 8×4 banding →
    // est-Jaccard). Pinned for sf0.01 (the driver-gate corpus); other
    // SFs covered by the SketchParitySpec twin at sf0.001.
    "dedup_minhash_lsh" ->
      s"""SELECT CAST(id1 AS BIGINT) AS id1, CAST(id2 AS BIGINT) AS id2,
             CAST(est_jaccard AS DOUBLE) AS est_jaccard
         FROM (VALUES ${SketchCapturedRows.minhashLsh})
           AS t(id1, id2, est_jaccard)
         ORDER BY id1, id2""",

    // SimHash value gate (same construction: FNV-1a + band blocking +
    // hamming reimplemented independently in SketchRef, captured at the
    // gate corpus)
    "dedup_simhash" ->
      s"""SELECT CAST(id1 AS BIGINT) AS id1, CAST(id2 AS BIGINT) AS id2,
             CAST(hamming AS INTEGER) AS hamming
         FROM (VALUES ${SketchCapturedRows.simhash})
           AS t(id1, id2, hamming)
         ORDER BY id1, id2""",

    // log-free rational tf-idf: tf*N is an exact BIGINT product, the one
    // division is the same IEEE op both sides (ln is not bit-portable)
    "text_keywords_tfidf" ->
      s"""WITH tok AS (SELECT doc_id, unnest($toks) AS tok FROM documents),
         tf AS (SELECT doc_id, tok, count(*) AS tf FROM tok GROUP BY 1, 2),
         df AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
         n AS (SELECT count(*) AS n_docs FROM documents),
         sc AS (SELECT doc_id, tok, tf, df,
             round((tf * n_docs) / CAST(df AS DOUBLE), 6) AS score
           FROM tf JOIN df USING (tok), n),
         r AS (SELECT *, CAST(row_number() OVER (
             PARTITION BY doc_id ORDER BY score DESC, tok ASC) AS BIGINT) AS rank
           FROM sc)
         SELECT doc_id, rank, tok, tf, df, score FROM r
         WHERE rank <= 3 ORDER BY doc_id, rank""",

    // BPE TRAINER value gate (r11 — rows-only 8 -> 7): the full
    // 500-merge table as a literal, CAPTURED FROM THE INDEPENDENT
    // REFERENCE TRAINER (test-scope BpeRef via CaptureBpe — the
    // pipeline_blindzone digest precedent: the literal comes from the
    // twin implementation, never from the engine under test, so the
    // driver's hash gate is a genuine cross-implementation pin of the
    // whole batched-election fixpoint at the gate corpus). Pinned for
    // sf0.01 (the only SF the driver gates); other SFs stay covered by
    // the spec twin at sf0.001 and the bench at sf0.1/sf1g.
    "text_bpe_train" ->
      s"""SELECT CAST(merge_round AS INTEGER) AS merge_round, lhs, rhs,
             CAST(n AS BIGINT) AS n
         FROM (VALUES $bpeTrainedRows) AS t(merge_round, lhs, rhs, n)
         ORDER BY merge_round""",

    // BPE merge induction: adjacent character pairs inside tokens,
    // top-20 by frequency (ties lexicographic)
    "text_bpe_merge" ->
      s"""WITH w AS (SELECT unnest($toks) AS w FROM documents),
         p AS (SELECT unnest(list_transform(range(1, length(w)),
             i -> substr(w, CAST(i AS INT), 2))) AS pair
           FROM w WHERE length(w) >= 2)
         SELECT pair, count(*) AS n FROM p
         GROUP BY pair ORDER BY n DESC, pair LIMIT 20""",

    // first-occurrence novelty: a position is novel when its 3-gram's
    // min(doc_id) is this doc
    "text_novelty" ->
      s"""WITH tok AS (SELECT doc_id, $toks AS toks FROM documents),
         pos AS (SELECT doc_id, unnest(list_transform(
             range(1, len(toks) - 1),
             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS s
           FROM tok WHERE len(toks) >= 3),
         f AS (SELECT s, min(doc_id) AS first_doc FROM pos GROUP BY s)
         SELECT doc_id, count(*) AS n_positions,
           CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)
             AS BIGINT) AS n_novel,
           round(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 6) AS novelty
         FROM pos JOIN f USING (s)
         GROUP BY doc_id ORDER BY doc_id""",

    // positional (non-distinct) shingles: a span is duplicated when its
    // 3-gram occurs at >= 2 positions corpus-wide
    "text_dup_span_share" ->
      s"""WITH tok AS (SELECT doc_id, $toks AS toks FROM documents),
         pos AS (SELECT doc_id, unnest(list_transform(
             range(1, len(toks) - 1),
             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS s
           FROM tok WHERE len(toks) >= 3),
         cnt AS (SELECT s, count(*) AS occ FROM pos GROUP BY s)
         SELECT doc_id, count(*) AS n_positions,
           CAST(sum(CASE WHEN occ >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_positions,
           round(sum(CASE WHEN occ >= 2 THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 6) AS dup_share
         FROM pos JOIN cnt USING (s)
         GROUP BY doc_id ORDER BY doc_id""",

    // substring-granular dedup APPLY: a token is removed when covered by
    // any 3-gram occurring at >= 2 positions corpus-wide; the cleaned
    // doc is pinned by md5 of the retained tokens in order (coalesce ''
    // mirrors Spark's concat_ws over an empty array for fully-covered
    // docs)
    "text_dedup_spans_apply" ->
      s"""WITH tok AS (SELECT doc_id, $toks AS toks FROM documents),
         pos AS (SELECT doc_id, unnest(list_transform(
             range(1, len(toks) - 1),
             i -> struct_pack(i := i,
               s := toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS p
           FROM tok WHERE len(toks) >= 3),
         pos2 AS (SELECT doc_id, p.i AS i, p.s AS s FROM pos),
         cnt AS (SELECT s, count(*) AS occ FROM pos2 GROUP BY s),
         dup AS (SELECT doc_id, i FROM pos2 JOIN cnt USING (s)
           WHERE occ >= 2),
         cov AS (SELECT DISTINCT doc_id, j FROM
           (SELECT doc_id, unnest([i, i+1, i+2]) AS j FROM dup)),
         tp AS (SELECT doc_id, unnest(list_transform(
             range(1, len(toks) + 1),
             j -> struct_pack(j := j, tok := toks[j]))) AS p FROM tok),
         tp2 AS (SELECT doc_id, p.j AS j, p.tok AS tok FROM tp),
         fl AS (SELECT tp2.doc_id, tp2.j, tp2.tok,
             cov.j IS NOT NULL AS covd
           FROM tp2 LEFT JOIN cov
             ON cov.doc_id = tp2.doc_id AND cov.j = tp2.j)
         SELECT doc_id, count(*) AS n_tok,
           CAST(sum(CASE WHEN covd THEN 1 ELSE 0 END) AS BIGINT)
             AS n_removed,
           md5(coalesce(
             string_agg(CASE WHEN NOT covd THEN tok END, ' ' ORDER BY j),
             '')) AS clean_md5
         FROM fl GROUP BY doc_id ORDER BY doc_id""",

    // Hamilton largest-remainder allocation: pure integer floor + mod,
    // leftover slots to the largest remainders (ties -> source asc)
    "mix_allocation_lrm" ->
      s"""WITH per AS (SELECT source,
           CAST(sum(len($toks)) AS BIGINT) AS tokens_total
           FROM documents GROUP BY source),
         tot AS (SELECT CAST(sum(tokens_total) AS BIGINT) AS total,
           count(*) AS n_src FROM per),
         base AS (SELECT source, tokens_total,
             (1000 * tokens_total) // total AS floor_q,
             (1000 * tokens_total) % total AS rem
           FROM per, tot),
         lo AS (SELECT 1000 - CAST(sum(floor_q) AS BIGINT) AS leftover
           FROM base),
         rk AS (SELECT *, CAST(row_number() OVER (
             ORDER BY rem DESC, source ASC) AS BIGINT) AS rem_rank
           FROM base)
         SELECT source, tokens_total, floor_q, rem_rank,
           floor_q + (CASE WHEN rem_rank <= leftover THEN 1 ELSE 0 END)
             AS quota
         FROM rk, lo ORDER BY source""",

    // skip-gram co-occurrence: unordered pairs within +-2 positions,
    // top-20 by count; lift is one double product/quotient in the same
    // operand order as the engine
    "text_cooccurrence" ->
      s"""WITH tok AS (SELECT $toks AS toks FROM documents),
         n AS (SELECT CAST(sum(len(toks)) AS BIGINT) AS n_tok FROM tok),
         pr AS (SELECT unnest(flatten(list_transform(
             range(1, len(toks)), i -> list_transform(
               range(i + 1, least(i + 2, len(toks)) + 1), j ->
                 struct_pack(w1 := least(toks[i], toks[j]),
                   w2 := greatest(toks[i], toks[j])))))) AS p
           FROM tok WHERE len(toks) >= 2),
         pc AS (SELECT p.w1 AS w1, p.w2 AS w2, count(*) AS c12
           FROM pr GROUP BY 1, 2),
         top AS (SELECT * FROM pc ORDER BY c12 DESC, w1, w2 LIMIT 20),
         uni AS (SELECT w, count(*) AS c FROM
           (SELECT unnest(toks) AS w FROM tok) GROUP BY w)
         SELECT w1, w2, c12, u1.c AS c1, u2.c AS c2,
           round((CAST(c12 AS DOUBLE) * CAST(n_tok AS DOUBLE)) /
             (CAST(u1.c AS DOUBLE) * CAST(u2.c AS DOUBLE)), 6) AS lift
         FROM top JOIN uni u1 ON u1.w = top.w1
           JOIN uni u2 ON u2.w = top.w2, n
         ORDER BY c12 DESC, w1, w2""",

    // DSIR-flavored importance: add-1-smoothed integer bucket ratios
    // ((ct+1)*1e6 // (cr+1)) summed per doc — log-free, rank-equivalent
    // to the log-ratio sum up to the dropped global normalizer
    "mix_importance" ->
      s"""WITH tok AS (SELECT doc_id, source, lang, unnest($toks) AS tok
           FROM documents),
         tb AS (SELECT doc_id, source, lang, tok,
             CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) % 4096 AS b
           FROM tok),
         r AS (SELECT b, count(*) AS cr,
             CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
               AS ct
           FROM tb GROUP BY b),
         sc AS (SELECT doc_id, source, lang, count(*) AS ntok,
             CAST(sum(((ct + 1) * 1000000) // (cr + 1)) AS BIGINT)
               AS imp_sum
           FROM tb JOIN r USING (b) GROUP BY doc_id, source, lang)
         SELECT doc_id, source, lang, ntok, imp_sum,
           imp_sum // ntok AS imp_per_tok
         FROM sc ORDER BY imp_per_tok DESC, doc_id LIMIT 100""",

    // asymmetric containment miner — integer cross-mult threshold, so
    // the keep decision is float-free in both engines
    "dedup_containment" ->
      s"""WITH $pairsAllCtes
         SELECT id1, id2, c, n1, n2,
           round(c / CAST(least(n1, n2) AS DOUBLE), 6) AS containment,
           round(c / CAST(n1 + n2 - c AS DOUBLE), 6) >= 0.8 AS hits_jaccard08
         FROM pairs_all
         WHERE c * 100 >= least(n1, n2) * 20
         ORDER BY id1, id2""",

    // SimHash quality gate (the sim_ann_recall boolean-pin pattern): the
    // row set is the exact Jaccard ≥0.8 pairs — dedup_ngram_jaccard's
    // own CTEs — and recall_ok is computed Spark-side against the
    // SimHash candidates and pinned TRUE here
    "dedup_simhash_recall" ->
      s"""WITH $shingleCtes
         SELECT id1, id2, TRUE AS recall_ok
         FROM pairs0 ORDER BY id1, id2""",

    // the hashed-shingle scale path shares the exact miner's oracle: a
    // 64-bit xxhash64 collision is the only way they could diverge, and
    // at ~10^5 distinct shingles the birthday bound (~n²/2^65) is far
    // below any realistic failure rate — a mismatch here would mean the
    // hashed rewrite broke, not that a collision happened
    "dedup_ngram_hashed" ->
      s"""WITH $shingleCtes
         SELECT id1, id2, c, n1, n2,
           round(c / CAST(n1 + n2 - c AS DOUBLE), 6) AS jaccard
         FROM pairs0
         ORDER BY id1, id2""",

    // provenance rollup of the same pair graph: triangular source matrix
    "dedup_cross_source" ->
      s"""WITH $shingleCtes,
         ps AS (SELECT least(d1.source, d2.source) AS src_a,
             greatest(d1.source, d2.source) AS src_b
           FROM pairs0
           JOIN documents d1 ON d1.doc_id = pairs0.id1
           JOIN documents d2 ON d2.doc_id = pairs0.id2)
         SELECT src_a, src_b, count(*) AS n_pairs,
           src_a = src_b AS within
         FROM ps GROUP BY src_a, src_b ORDER BY src_a, src_b""",

    "dedup_components" ->
      s"""WITH RECURSIVE
         $shingleCtes,
         e AS (SELECT id1 AS src, id2 AS dst FROM pairs0
               UNION ALL SELECT id2, id1 FROM pairs0),
         reach(v, label) AS (
           SELECT DISTINCT src, src FROM e
           UNION
           SELECT e.src, r.label FROM e JOIN reach r ON e.dst = r.v)
         SELECT v AS id, min(label) AS component
         FROM reach GROUP BY v ORDER BY id""",

    "dedup_apply" -> dedupApplySql,

    // same pair graph/components; the survivor is the quality argmax
    // (q desc, id tie-break) instead of min id
    "dedup_apply_priority" ->
      s"""WITH RECURSIVE
         $shingleCtes,
         e AS (SELECT id1 AS src, id2 AS dst FROM pairs0
               UNION ALL SELECT id2, id1 FROM pairs0),
         reach(v, label) AS (
           SELECT DISTINCT src, src FROM e
           UNION
           SELECT e.src, r.label FROM e JOIN reach r ON e.dst = r.v),
         comp AS (SELECT v, min(label) AS component FROM reach GROUP BY v),
         q AS (SELECT id, round((CAST(${hits(en)} AS DOUBLE) / len(toks)) * 0.5
             + least(len(toks), 100) * 0.005, 6) AS q FROM tok),
         ranked AS (SELECT c.v, row_number() OVER (PARTITION BY c.component
             ORDER BY q.q DESC, c.v) AS rk
           FROM comp c JOIN q ON q.id = c.v),
         losers AS (SELECT v FROM ranked WHERE rk > 1)
         SELECT doc_id, n_chars FROM documents
         WHERE doc_id NOT IN (SELECT v FROM losers)
         ORDER BY doc_id""",

    // sketch-then-verify must reproduce the full exact mine (the sketch
    // only PROPOSES pairs; exact Jaccard decides) — so the oracle IS
    // dedup_apply's, shared by reference so the two can never diverge,
    // and a hash match doubles as a recall proof for the banded MinHash
    // (16 bands x 2 rows) on this corpus
    "dedup_apply_minhash" -> dedupApplySql,

    "dedup_incremental" ->
      s"""WITH tok AS (SELECT doc_id AS id, $toks AS toks FROM documents),
         sh0 AS (SELECT id, unnest(list_distinct(list_transform(
             range(1, len(toks) - 1),
             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS s
           FROM tok WHERE len(toks) >= 3),
         sh AS (SELECT id, s FROM sh0
           WHERE s NOT IN (SELECT s FROM sh0 GROUP BY s HAVING count(*) > 100)),
         sizes AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
         common AS (SELECT a.id AS new_id, b.id AS old_id, count(*) AS c
           FROM sh a JOIN sh b ON a.s = b.s
           WHERE a.id % 10 = 0 AND b.id % 10 <> 0
           GROUP BY 1, 2)
         SELECT new_id, old_id, c,
           sn.n AS n_new, so.n AS n_old,
           round(c / CAST(sn.n + so.n - c AS DOUBLE), 6) AS jaccard
         FROM common
         JOIN sizes sn ON sn.id = new_id
         JOIN sizes so ON so.id = old_id
         WHERE round(c / CAST(sn.n + so.n - c AS DOUBLE), 6) >= 0.5
         ORDER BY new_id, old_id""",

    // SemDeDup cell-blocking quality gate (the dedup_simhash_recall
    // pattern): the row set is the exact-cosine >= 0.25 pairs over the
    // deterministic 1-in-10 sample — SQL-expressible via the bit-exact
    // sequential fold — and recall_ok is computed Spark-side against the
    // IVF-cell-blocked candidates and pinned TRUE here
    "dedup_semantic_cells" ->
      s"""WITH s AS (SELECT vec_id, embedding FROM embeddings
           WHERE vec_id % 10 = 0 AND embedding IS NOT NULL
             AND len(list_filter(embedding, x -> x IS NULL)) = 0
           ORDER BY vec_id LIMIT 500)
         SELECT a.vec_id AS id1, b.vec_id AS id2, TRUE AS recall_ok
         FROM s a JOIN s b ON a.vec_id < b.vec_id
         WHERE ${cosSql("a.embedding", "b.embedding")} >= 0.25
         ORDER BY id1, id2""",

    "dedup_embedding" ->
      s"""WITH emb AS (SELECT vec_id, embedding, CAST(label AS BIGINT) AS block
           FROM embeddings)
         SELECT id1, id2, block, cos FROM (
           SELECT a.vec_id AS id1, b.vec_id AS id2, a.block AS block,
             ${cosSql("a.embedding", "b.embedding")} AS cos
           FROM emb a JOIN emb b
             ON a.block = b.block AND a.vec_id < b.vec_id)
         WHERE cos >= 0.30 ORDER BY id1, id2""",

    // the applied half of SemDeDup: the pair mine is dedup_embedding's
    // bit-exact cosine (sequential list_reduce fold ≡ Spark's SeqDot),
    // the components/keeper step is dedup_apply's recursive CTE — the
    // two proven oracle fragments composed, so a hash match proves the
    // embedding-side find→apply pipeline end-to-end
    "dedup_semantic_apply" ->
      s"""WITH RECURSIVE
         emb AS (SELECT vec_id, embedding, CAST(label AS BIGINT) AS block
           FROM embeddings),
         pairs0 AS (
           SELECT a.vec_id AS id1, b.vec_id AS id2
           FROM emb a JOIN emb b
             ON a.block = b.block AND a.vec_id < b.vec_id
           WHERE ${cosSql("a.embedding", "b.embedding")} >= 0.30),
         e AS (SELECT id1 AS src, id2 AS dst FROM pairs0
               UNION ALL SELECT id2, id1 FROM pairs0),
         reach(v, label) AS (
           SELECT DISTINCT src, src FROM e
           UNION
           SELECT e.src, r.label FROM e JOIN reach r ON e.dst = r.v),
         losers AS (
           SELECT v FROM reach GROUP BY v HAVING v <> min(label))
         SELECT vec_id, block FROM emb
         WHERE vec_id NOT IN (SELECT v FROM losers)
         ORDER BY vec_id""",

    // label-blocked exact k-NN graph: per vector the top-3 same-label
    // neighbors; cosine text identical to the brute-force oracle's
    "sim_knn_graph" ->
      s"""WITH e AS (SELECT vec_id, label, embedding FROM embeddings),
         scored AS (SELECT a.vec_id AS qid, a.label, b.vec_id AS nbr_id,
             ${cosSql("a.embedding", "b.embedding")} AS cos
           FROM e a JOIN e b ON a.label = b.label AND a.vec_id <> b.vec_id),
         ranked AS (SELECT qid, label, nbr_id, cos,
             CAST(row_number() OVER (PARTITION BY qid
               ORDER BY cos DESC, nbr_id) AS BIGINT) AS "rank"
           FROM scored)
         SELECT qid, label, "rank", nbr_id, cos FROM ranked
         WHERE "rank" <= 3 ORDER BY qid, "rank"""",

    // one Lloyd iteration on centi-quantized integer vectors: integer
    // squared-L2 argmin (ties -> lowest cid), centroids as (n, ssum)
    // integer sums; div/'//' both truncate toward zero
    "sim_kmeans_step" ->
      """WITH e AS (SELECT vec_id,
           list_transform(embedding,
             x -> CAST(floor(CAST(x AS DOUBLE) * 100) AS BIGINT)) AS q
           FROM embeddings),
         seeds AS (SELECT vec_id AS cid, q AS c FROM e WHERE vec_id < 8),
         d AS (SELECT e.vec_id, e.q, s.cid,
             CAST(list_sum(list_transform(range(1, len(e.q) + 1),
               i -> (e.q[i] - s.c[i]) * (e.q[i] - s.c[i]))) AS BIGINT)
               AS d2
           FROM e CROSS JOIN seeds s),
         a AS (SELECT vec_id, q, cid FROM
           (SELECT vec_id, q, cid, row_number() OVER (PARTITION BY vec_id
              ORDER BY d2, cid) AS rk FROM d) WHERE rk = 1),
         x AS (SELECT cid, unnest(list_transform(range(1, len(q) + 1),
             i -> struct_pack(dim := i - 1, v := q[i]))) AS p FROM a)
         SELECT cid, CAST(p.dim AS BIGINT) AS dim, count(*) AS n,
           CAST(sum(p.v) AS BIGINT) AS ssum,
           CAST(sum(p.v) AS BIGINT) // count(*) AS mean_centi
         FROM x GROUP BY cid, p.dim ORDER BY cid, dim""",

    // per-cluster medoid vs the div-truncated centroid — same assignment
    // CTEs as sim_kmeans_step, ties -> lowest vec_id
    "sample_coreset" ->
      """WITH e AS (SELECT vec_id,
           list_transform(embedding,
             x -> CAST(floor(CAST(x AS DOUBLE) * 100) AS BIGINT)) AS q
           FROM embeddings),
         seeds AS (SELECT vec_id AS cid, q AS c FROM e WHERE vec_id < 8),
         d AS (SELECT e.vec_id, e.q, s.cid,
             CAST(list_sum(list_transform(range(1, len(e.q) + 1),
               i -> (e.q[i] - s.c[i]) * (e.q[i] - s.c[i]))) AS BIGINT)
               AS d2
           FROM e CROSS JOIN seeds s),
         a AS (SELECT vec_id, q, cid FROM
           (SELECT vec_id, q, cid, row_number() OVER (PARTITION BY vec_id
              ORDER BY d2, cid) AS rk FROM d) WHERE rk = 1),
         x AS (SELECT cid, vec_id, unnest(list_transform(
             range(1, len(q) + 1),
             i -> struct_pack(dim := i - 1, v := q[i]))) AS p FROM a),
         cent AS (SELECT cid, p.dim AS dim,
             CAST(sum(p.v) AS BIGINT) // count(*) AS mc
           FROM x GROUP BY cid, p.dim),
         dist AS (SELECT x.cid, x.vec_id,
             CAST(sum((x.p.v - cent.mc) * (x.p.v - cent.mc)) AS BIGINT)
               AS dist
           FROM x JOIN cent ON cent.cid = x.cid AND cent.dim = x.p.dim
           GROUP BY x.cid, x.vec_id)
         SELECT cid, vec_id, dist FROM
           (SELECT *, row_number() OVER (PARTITION BY cid
              ORDER BY dist, vec_id) AS rk FROM dist)
         WHERE rk = 1 ORDER BY cid""",

    // the fully value-oracled IVF lifecycle (r9): quantize -> one-step
    // integer Lloyd train -> invert -> probe 2 cells -> integer-dot
    // rank. Every step is exact integer arithmetic (floor-quantize,
    // trunc-div centroids — DuckDB // truncates toward zero exactly
    // like Spark div on integers), so the whole index path hash-matches.
    "sim_ivf_exact_topk" -> {
      def l2(a: String, b: String) =
        s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(list_zip($a, $b),
              p -> CAST((p[1] - p[2]) * (p[1] - p[2]) AS BIGINT))),
            (x, y) -> x + y)"""
      def idot(a: String, b: String) =
        s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(list_zip($a, $b),
              p -> CAST(p[1] * p[2] AS BIGINT))), (x, y) -> x + y)"""
      s"""WITH qv AS (SELECT vec_id, list_transform(embedding,
             x -> CAST(floor(CAST(x AS DOUBLE) * 100) AS BIGINT)) AS q
           FROM embeddings),
         seeds AS (SELECT vec_id AS cid, q AS c FROM qv WHERE vec_id < 8),
         a0 AS (SELECT vec_id, q, cid FROM (
             SELECT qv.vec_id, qv.q, s.cid,
               row_number() OVER (PARTITION BY qv.vec_id
                 ORDER BY ${l2("qv.q", "s.c")}, s.cid) AS rk
             FROM qv CROSS JOIN seeds s) WHERE rk = 1),
         x AS (SELECT cid, unnest(list_transform(range(1, len(q) + 1),
             i -> struct_pack(dim := i - 1, v := q[i]))) AS p FROM a0),
         cent AS (SELECT cid, p.dim AS dim,
             CAST(sum(p.v) AS BIGINT) // count(*) AS mc
           FROM x GROUP BY cid, p.dim),
         centv AS (SELECT cid, list(mc ORDER BY dim) AS mcv
           FROM cent GROUP BY cid),
         inv AS (SELECT vec_id, q, cell FROM (
             SELECT qv.vec_id, qv.q, c.cid AS cell,
               row_number() OVER (PARTITION BY qv.vec_id
                 ORDER BY ${l2("qv.q", "c.mcv")}, c.cid) AS rk
             FROM qv CROSS JOIN centv c) WHERE rk = 1),
         q200 AS (SELECT vec_id AS qid, q AS qq FROM inv
           WHERE vec_id % 50 = 0 ORDER BY vec_id LIMIT 200),
         qc AS (SELECT qid, qq, cell FROM (
             SELECT q200.qid, q200.qq, c.cid AS cell,
               row_number() OVER (PARTITION BY q200.qid
                 ORDER BY ${l2("q200.qq", "c.mcv")}, c.cid) AS rk
             FROM q200 CROSS JOIN centv c) WHERE rk <= 2),
         cand AS (SELECT qc.qid, inv.vec_id,
             ${idot("qc.qq", "inv.q")} AS idot
           FROM qc JOIN inv USING (cell) WHERE qc.qid <> inv.vec_id),
         ranked AS (SELECT qid, vec_id, idot,
             row_number() OVER (PARTITION BY qid
               ORDER BY idot DESC, vec_id) AS "rank"
           FROM cand)
         SELECT qid, "rank", vec_id, idot FROM ranked WHERE "rank" <= 10
         ORDER BY qid, "rank""""
    },

    // LSH hash-green (was rows-only through r8): the "engine-side state"
    // — the 16 seeded Gaussian hyperplanes — is deterministic and
    // driver-sized, so the oracle builder embeds the SAME planes as
    // literal lists and DuckDB recomputes signatures (sequential-fold
    // dots, exactly SeqDot's order), 4-bit band buckets, the candidate
    // join, and the exact cosine ranking over candidates. Doubles parse
    // correctly-rounded from Double.toString, so both engines evaluate
    // identical IEEE operations.
    "sim_lsh_topk" -> {
      val planeRows = graft.ext.Similarity.hyperplanes(16, 64).zipWithIndex
        .map { case (p, i) => s"($i, [${p.mkString(", ")}])" }
        .mkString(",\n           ")
      s"""WITH planes(p, coefs) AS (VALUES
           $planeRows),
         sigs AS (SELECT e.vec_id,
             CAST(sum(CASE WHEN ${dotSql("e.embedding", "pl.coefs")} >= 0
               THEN 1 << pl.p ELSE 0 END) AS BIGINT) AS sig
           FROM embeddings e CROSS JOIN planes pl GROUP BY e.vec_id),
         b AS (SELECT vec_id, band, (sig >> (band * 4)) & 15 AS bucket
           FROM sigs, unnest([0, 1, 2, 3]) t(band)),
         q AS (SELECT vec_id AS qid FROM embeddings
           WHERE vec_id % 50 = 0 ORDER BY vec_id LIMIT 200),
         cand AS (SELECT DISTINCT q.qid, c.vec_id
           FROM q JOIN b qb ON qb.vec_id = q.qid
           JOIN b c ON c.band = qb.band AND c.bucket = qb.bucket
             AND c.vec_id <> q.qid),
         scored AS (SELECT cand.qid, cand.vec_id,
             ${cosSql("eq.embedding", "ec.embedding")} AS cos
           FROM cand
           JOIN embeddings eq ON eq.vec_id = cand.qid
           JOIN embeddings ec ON ec.vec_id = cand.vec_id),
         ranked AS (SELECT qid, vec_id, cos,
             row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id)
               AS "rank" FROM scored)
         SELECT qid, "rank", vec_id, cos FROM ranked WHERE "rank" <= 10
         ORDER BY qid, "rank""""
    },

    "sim_bruteforce_topk" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings
           WHERE vec_id % 50 = 0 ORDER BY vec_id LIMIT 200),
         scored AS (SELECT qid, vec_id,
             ${cosSql("qvec", "embedding")} AS cos
           FROM embeddings CROSS JOIN q WHERE qid <> vec_id),
         ranked AS (SELECT qid, vec_id, cos,
             row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id)
               AS "rank"
           FROM scored)
         SELECT qid, "rank", vec_id, cos FROM ranked WHERE "rank" <= 10
         ORDER BY qid, "rank"""",

    // captured-literal oracles ([[IvfCapturedRows]], the CaptureIvf
    // twin — rows-only through r11 while float-avg training was
    // merge-order-dependent): BOTH IVF forms gate against ONE literal,
    // so the hash gate also pins train-inline == staged-model
    "sim_ivf_topk" ->
      s"""SELECT CAST(qid AS BIGINT) AS qid,
             CAST("rank" AS INTEGER) AS "rank",
             CAST(vec_id AS BIGINT) AS vec_id, CAST(cos AS DOUBLE) AS cos
         FROM (VALUES ${IvfCapturedRows.ivfTop10})
           AS t(qid, "rank", vec_id, cos)
         ORDER BY qid, "rank"""",

    "sim_ivf_warm" ->
      s"""SELECT CAST(qid AS BIGINT) AS qid,
             CAST("rank" AS INTEGER) AS "rank",
             CAST(vec_id AS BIGINT) AS vec_id, CAST(cos AS DOUBLE) AS cos
         FROM (VALUES ${IvfCapturedRows.ivfTop10})
           AS t(qid, "rank", vec_id, cos)
         ORDER BY qid, "rank"""",

    // the PQ family under the same captured-literal discipline
    // ([[PqCapturedRows]], the CapturePq twins) — with these, every
    // ANN path carries a full value oracle and the registry's
    // rows-only set is empty
    "sim_pq_topk" ->
      s"""SELECT CAST(qid AS BIGINT) AS qid,
             CAST("rank" AS INTEGER) AS "rank",
             CAST(vec_id AS BIGINT) AS vec_id, CAST(cos AS DOUBLE) AS cos
         FROM (VALUES ${PqCapturedRows.pqTop10})
           AS t(qid, "rank", vec_id, cos)
         ORDER BY qid, "rank"""",

    "sim_ivfpq_topk" ->
      s"""SELECT CAST(qid AS BIGINT) AS qid,
             CAST("rank" AS INTEGER) AS "rank",
             CAST(vec_id AS BIGINT) AS vec_id, CAST(cos AS DOUBLE) AS cos
         FROM (VALUES ${PqCapturedRows.ivfPqTop10})
           AS t(qid, "rank", vec_id, cos)
         ORDER BY qid, "rank"""",

    // greedy MMR replayed as a recursive CTE (the balance_bins
    // first-fit precedent): each iteration's correlated subquery elects
    // the integer-score argmax given the picks list so far
    "sim_mmr_rerank" ->
      """WITH RECURSIVE qv AS (SELECT vec_id,
           list_transform(embedding,
             x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 /
               list_max(list_transform(embedding,
                 y -> abs(CAST(y AS DOUBLE))))) AS INT)) AS q
         FROM embeddings),
         q AS (SELECT vec_id AS qid, q AS qq FROM qv
           WHERE vec_id % 50 = 0 ORDER BY vec_id LIMIT 200),
         scored AS (SELECT qid, vec_id,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(list_zip(qq, qv.q),
                 p -> CAST(p[1] * p[2] AS BIGINT))),
               (a, b) -> a + b) AS rel
           FROM qv CROSS JOIN q WHERE qid <> vec_id),
         rel AS (SELECT qid, vec_id, rel FROM (
           SELECT qid, vec_id, rel, row_number() OVER (PARTITION BY qid
               ORDER BY rel DESC, vec_id) AS rk FROM scored) WHERE rk <= 20),
         cand AS (SELECT r.qid, r.vec_id, r.rel, v.q
           FROM rel r JOIN qv v USING (vec_id)),
         pairs AS (SELECT a.qid, a.vec_id AS c, b.vec_id AS s,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(list_zip(a.q, b.q),
                 p -> CAST(p[1] * p[2] AS BIGINT))),
               (x, y) -> x + y) AS sim
           FROM cand a JOIN cand b ON a.qid = b.qid AND a.vec_id <> b.vec_id),
         seed AS (SELECT qid, vec_id FROM (
           SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
               ORDER BY rel DESC, vec_id) AS rk FROM rel) WHERE rk = 1),
         sel AS (
           SELECT qid, 1 AS step, [vec_id] AS picks FROM seed
           UNION ALL
           SELECT qid, step + 1, list_append(picks, (
               SELECT m.c FROM (
                 SELECT p.c, max(p.sim) AS msim FROM pairs p
                 WHERE p.qid = sel.qid AND list_contains(sel.picks, p.s)
                   AND NOT list_contains(sel.picks, p.c)
                 GROUP BY p.c) m
               JOIN rel r ON r.qid = sel.qid AND r.vec_id = m.c
               ORDER BY 2 * r.rel - m.msim DESC, m.c LIMIT 1))
           FROM sel WHERE step < 10)
         SELECT qid, CAST(i AS BIGINT) AS step,
           picks[CAST(i AS INT)] AS vec_id
         FROM (SELECT qid, picks FROM sel WHERE step = 10) f,
           (SELECT unnest(range(1, 11)) AS i)
         -- a probe with < 10 selectable candidates exhausts the argmax
         -- subquery (NULL appends, which then stay NULL: list_contains
         -- over a NULL-bearing picks list is NULL, filtering every
         -- candidate); the engine's greedy stops at cand.length, so emit
         -- only the non-NULL picks (ADVICE r9 — latent divergence on
         -- sparse corpora; NULLs are trailing, so step numbering agrees)
         WHERE picks[CAST(i AS INT)] IS NOT NULL
         ORDER BY qid, step""",

    // RRF fusion of the integer-exact vector ranking and the distinct-
    // token-overlap text ranking; fusion is two IEEE divisions + one add
    // in fixed order, tie-broken by vec_id
    "sim_hybrid_rrf" ->
      s"""WITH qv AS (SELECT vec_id,
           list_transform(embedding,
             x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 /
               list_max(list_transform(embedding,
                 y -> abs(CAST(y AS DOUBLE))))) AS INT)) AS q
         FROM embeddings),
         q AS (SELECT vec_id AS qid, q AS qq FROM qv
           WHERE vec_id % 50 = 0 ORDER BY vec_id LIMIT 200),
         vscored AS (SELECT qid, vec_id,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(list_zip(qq, qv.q),
                 p -> CAST(p[1] * p[2] AS BIGINT))),
               (a, b) -> a + b) AS idot
           FROM qv CROSS JOIN q WHERE qid <> vec_id),
         vrank AS (SELECT qid, vec_id, rank_v FROM (
           SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
               ORDER BY idot DESC, vec_id) AS rank_v
             FROM vscored) WHERE rank_v <= 50),
         tok AS (SELECT doc_id, list_distinct($toks) AS dt FROM documents),
         qt AS (SELECT q.qid, unnest(tok.dt) AS tok FROM tok
           JOIN q ON tok.doc_id = q.qid),
         hits AS (SELECT qt.qid, d.doc_id AS vec_id, count(*) AS overlap
           FROM (SELECT doc_id, unnest(dt) AS tok FROM tok) d
           JOIN qt USING (tok) WHERE d.doc_id <> qt.qid
           GROUP BY qt.qid, d.doc_id),
         trank AS (SELECT qid, vec_id, rank_t FROM (
           SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
               ORDER BY overlap DESC, vec_id) AS rank_t
             FROM hits) WHERE rank_t <= 50),
         fused AS (SELECT qid, vec_id,
             coalesce(1.0 / (60 + rank_v), CAST(0.0 AS DOUBLE))
               + coalesce(1.0 / (60 + rank_t), CAST(0.0 AS DOUBLE)) AS rrf,
             rank_v, rank_t
           FROM vrank FULL OUTER JOIN trank USING (qid, vec_id)),
         final AS (SELECT qid, vec_id, rrf,
             CAST(rank_v AS BIGINT) AS rank_v,
             CAST(rank_t AS BIGINT) AS rank_t,
             CAST(row_number() OVER (PARTITION BY qid
               ORDER BY rrf DESC, vec_id) AS BIGINT) AS "rank"
           FROM fused)
         SELECT qid, "rank", vec_id, rank_v, rank_t, rrf FROM final
         WHERE "rank" <= 10 ORDER BY qid, "rank"""",

    "sim_quantized_topk" ->
      """WITH qv AS (SELECT vec_id,
           list_transform(embedding,
             x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 /
               list_max(list_transform(embedding,
                 y -> abs(CAST(y AS DOUBLE))))) AS INT)) AS q
         FROM embeddings),
         q AS (SELECT vec_id AS qid, q AS qq FROM qv
           WHERE vec_id % 50 = 0 ORDER BY vec_id LIMIT 200),
         scored AS (SELECT qid, vec_id,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(list_zip(qq, qv.q),
                 p -> CAST(p[1] * p[2] AS BIGINT))),
               (a, b) -> a + b) AS idot
           FROM qv CROSS JOIN q WHERE qid <> vec_id),
         ranked AS (SELECT qid, vec_id, idot,
             row_number() OVER (PARTITION BY qid ORDER BY idot DESC, vec_id)
               AS "rank"
           FROM scored)
         SELECT qid, "rank", vec_id, idot FROM ranked WHERE "rank" <= 10
         ORDER BY qid, "rank"""",

    // REAL codec gate: the engine encodes genuine PNG/BMP/JPEG bytes and
    // decodes them with javax.imageio; the oracle recomputes the decoded
    // metadata from the closed-form synthetic pixel expression — and the
    // full pixel checksum for the LOSSLESS formats (equal hashes prove
    // every pixel survived the compressed round trip). JPEG rows gate on
    // the decoded dimensions/format/channels (pix_sum canonicalized to
    // -1 in both engines — JPEG decode is bit-exact per decoder, not
    // cross-engine; the pixel twin lives in MultimodalSpec)
    "mm_decode_meta" ->
      """WITH d AS (SELECT doc_id, doc_id % 57 + 8 AS w, doc_id % 41 + 6 AS h
               FROM documents),
         px AS (SELECT doc_id, w, h, x, y, c
               FROM d, unnest(range(0, w)) rx(x), unnest(range(0, h)) ry(y),
                 unnest([0, 1, 2]) rc(c))
         SELECT doc_id,
           CASE WHEN doc_id % 3 = 0 THEN 'png'
                WHEN doc_id % 3 = 1 THEN 'bmp' ELSE 'jpg' END AS fmt,
           CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
           CAST(3 AS BIGINT) AS channels,
           CASE WHEN doc_id % 3 = 2 THEN CAST(-1 AS BIGINT)
                ELSE CAST(sum((doc_id*31 + x*7 + y*13 + c*5) % 256) AS BIGINT)
           END AS pix_sum
         FROM px GROUP BY doc_id, w, h ORDER BY doc_id""",

    "mm_frame_sample" ->
      """SELECT doc_id, i AS frame_idx,
         CAST(length(substr(text, CAST(i * 64 + 1 AS INT), 64)) AS BIGINT)
           AS frame_len,
         md5(substr(text, CAST(i * 64 + 1 AS INT), 64)) AS frame_md5
         FROM documents, unnest(range(0, (length(text) - 1) // 64 + 1)) t(i)
         WHERE i % 4 = 0 ORDER BY doc_id, frame_idx""",

    "mm_byte_histogram" ->
      """SELECT doc_id, CAST(ord(ch) // 16 AS INT) AS bucket, count(*) AS n
         FROM (SELECT doc_id, unnest(string_split(text, '')) AS ch
               FROM documents)
         WHERE ch <> '' GROUP BY 1, 2 ORDER BY doc_id, bucket""",

    // nearest-neighbor resample to 16x12: src index = dst*src_extent //
    // dst_extent — the engine computes the same over DECODED pixels.
    // Lossless formats only (doc_id % 3 <> 2): jpg pixels have no
    // cross-engine truth, see mm_decode_meta
    "mm_resize" ->
      """WITH d AS (SELECT doc_id, doc_id % 57 + 8 AS w, doc_id % 41 + 6 AS h
               FROM documents WHERE doc_id % 3 <> 2),
         px AS (SELECT doc_id, w, h,
             (x2 * w) // 16 AS sx, (y2 * h) // 12 AS sy, c
           FROM d, unnest(range(0, 16)) rx(x2), unnest(range(0, 12)) ry(y2),
             unnest([0, 1, 2]) rc(c))
         SELECT doc_id,
           CAST(w AS BIGINT) AS src_w, CAST(h AS BIGINT) AS src_h,
           CAST(16 AS BIGINT) AS dst_w, CAST(12 AS BIGINT) AS dst_h,
           CAST(sum((doc_id*31 + sx*7 + sy*13 + c*5) % 256) AS BIGINT)
             AS pix_sum
         FROM px GROUP BY doc_id, w, h ORDER BY doc_id""",

    // REAL WAV round trip: rate/channels/frames from the doc_id rotation,
    // amplitude checksums recomputed from the closed-form PCM sample
    // expression — PCM is lossless, so every row gets the full value
    // gate (no jpg-style carve-out). Sums cast to BIGINT (DuckDB sums
    // integers into HUGEINT — the r7 pagerank lesson).
    "mm_audio_meta" ->
      """WITH d AS (SELECT doc_id, doc_id % 800 + 160 AS nf,
             doc_id % 2 + 1 AS ch,
             CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                  ELSE 22050 END AS rate
           FROM documents),
         s AS (SELECT doc_id, nf, ch, rate,
             (doc_id*31 + i*7 + c*13) % 4096 - 2048 AS s
           FROM d, unnest(range(0, nf)) ri(i), unnest([0, 1]) rc(c)
           WHERE c < ch)
         SELECT doc_id, 'wav' AS fmt, CAST(rate AS BIGINT) AS sample_rate,
           CAST(ch AS BIGINT) AS channels, CAST(nf AS BIGINT) AS n_frames,
           CAST(sum(s) AS BIGINT) AS amp_sum,
           CAST(sum(s*s) AS BIGINT) AS amp_sumsq,
           CAST(max(abs(s)) AS BIGINT) AS amp_max
         FROM s GROUP BY doc_id, rate, ch, nf ORDER BY doc_id""",

    // windowed RMS energy (160-frame windows): every window's Σs² over
    // all channels plus its frame count, replayed from the same sample
    // expression. The tail window's short frame count comes from the
    // closed form least(nf, (win+1)*160) − win*160.
    "mm_audio_energy" ->
      """WITH d AS (SELECT doc_id, doc_id % 800 + 160 AS nf,
             doc_id % 2 + 1 AS ch
           FROM documents),
         s AS (SELECT doc_id, nf, i // 160 AS win,
             (doc_id*31 + i*7 + c*13) % 4096 - 2048 AS s
           FROM d, unnest(range(0, nf)) ri(i), unnest([0, 1]) rc(c)
           WHERE c < ch)
         SELECT doc_id, CAST(win AS BIGINT) AS win,
           CAST(least(nf, (win + 1) * 160) - win * 160 AS BIGINT)
             AS n_frames,
           CAST(sum(s*s) AS BIGINT) AS sumsq
         FROM s GROUP BY doc_id, win, nf ORDER BY doc_id, win""",

    // REAL animated-GIF round trip: frame count from the doc_id
    // rotation, every 2nd frame kept, per-frame pixel checksum
    // recomputed from the closed-form gray expression (gray palette ⇒
    // the gif codec is lossless — probe-verified; see Multimodal).
    "mm_video_frames" ->
      """WITH d AS (SELECT doc_id, doc_id % 6 + 2 AS nf FROM documents),
         fr AS (SELECT doc_id, nf, f
           FROM d, unnest(range(0, nf)) rf(f) WHERE f % 2 = 0),
         px AS (SELECT doc_id, nf, f,
             (doc_id*31 + f*17 + x*7 + y*13) % 256 AS g
           FROM fr, unnest(range(0, 16)) rx(x), unnest(range(0, 12)) ry(y))
         SELECT doc_id, CAST(nf AS BIGINT) AS n_frames,
           CAST(f AS BIGINT) AS frame_idx,
           CAST(16 AS BIGINT) AS width, CAST(12 AS BIGINT) AS height,
           CAST(sum(g) AS BIGINT) AS pix_sum
         FROM px GROUP BY doc_id, nf, f ORDER BY doc_id, frame_idx""",

    // consecutive-frame SAD from the two-scene closed form; the cut is
    // the per-clip argmax-SAD frame (earliest on ties)
    "mm_video_scene_cut" ->
      """WITH d AS (SELECT doc_id, doc_id % 6 + 2 AS nf FROM documents),
         fr AS (SELECT doc_id, nf, f FROM d, unnest(range(1, nf)) rf(f)),
         px AS (SELECT doc_id, nf, f,
             abs((doc_id*31 + f*17 + x*7 + y*13
                  + CASE WHEN f >= nf // 2 THEN 101 ELSE 0 END) % 256
               - (doc_id*31 + (f-1)*17 + x*7 + y*13
                  + CASE WHEN f - 1 >= nf // 2 THEN 101 ELSE 0 END) % 256)
               AS ad
           FROM fr, unnest(range(0, 16)) rx(x), unnest(range(0, 12)) ry(y)),
         sad AS (SELECT doc_id, nf, f, CAST(sum(ad) AS BIGINT) AS sad
           FROM px GROUP BY 1, 2, 3),
         m AS (SELECT *, row_number() OVER (PARTITION BY doc_id
             ORDER BY sad DESC, f) AS rk
           FROM sad)
         SELECT doc_id, CAST(nf AS BIGINT) AS n_frames,
           CAST(f AS BIGINT) AS frame_idx, sad,
           rk = 1 AS is_cut
         FROM m ORDER BY doc_id, frame_idx""",

    // perceptual-hash dedup: the oracle replays the full aHash from the
    // closed-form pixel expression — fixed-point ITU-R 601 luma
    // (299r+587g+114b, no division), pixel→cell map (y*8//h, x*8//w),
    // bit set iff cellSum·N > totalSum·cellCnt (cross-multiplied; an
    // empty cell — h∈{6,7} rows — is 0 in both engines), 64 bits split
    // into two sign-safe 32-bit halves. Lossless formats only (jpg has
    // no cross-engine pixel truth — see mm_decode_meta).
    "mm_phash_dedup" ->
      """WITH d AS (SELECT doc_id, doc_id % 57 + 8 AS w, doc_id % 41 + 6 AS h
               FROM documents WHERE doc_id % 3 <> 2),
         px AS (SELECT doc_id, w, h, (y*8) // h AS ci, (x*8) // w AS cj,
               299*((doc_id*31 + x*7 + y*13) % 256)
             + 587*((doc_id*31 + x*7 + y*13 + 5) % 256)
             + 114*((doc_id*31 + x*7 + y*13 + 10) % 256) AS gm
           FROM d, unnest(range(0, w)) rx(x), unnest(range(0, h)) ry(y)),
         tot AS (SELECT doc_id, sum(gm) AS s, count(*) AS n
           FROM px GROUP BY doc_id),
         cells AS (SELECT doc_id, ci, cj, sum(gm) AS cs, count(*) AS cc
           FROM px GROUP BY doc_id, ci, cj),
         bits AS (SELECT c.doc_id, ci*8 + cj AS pos,
             CASE WHEN c.cs * t.n > t.s * c.cc THEN 1 ELSE 0 END AS b
           FROM cells c JOIN tot t USING (doc_id)),
         hashes AS (SELECT doc_id,
             CAST(coalesce(sum(CASE WHEN pos >= 32
               THEN b * (CAST(1 AS BIGINT) << (pos - 32)) END), 0)
               AS BIGINT) AS ahash_hi,
             CAST(coalesce(sum(CASE WHEN pos < 32
               THEN b * (CAST(1 AS BIGINT) << pos) END), 0)
               AS BIGINT) AS ahash_lo
           FROM bits GROUP BY doc_id)
         SELECT doc_id, ahash_hi, ahash_lo,
           min(doc_id) OVER hw AS cluster_id,
           count(*) OVER hw AS cluster_sz,
           CAST(doc_id = min(doc_id) OVER hw AS INT) AS is_canonical
         FROM hashes
         WINDOW hw AS (PARTITION BY ahash_hi, ahash_lo)
         ORDER BY doc_id""",

    // acoustic fingerprint: windowed Σs² energies from the closed-form
    // PCM samples, sign-of-derivative bits (strict >, integer-exact),
    // packed with << and clustered on (fp, n_windows)
    "mm_audio_fingerprint" ->
      """WITH d AS (SELECT doc_id, doc_id % 800 + 160 AS nf,
             doc_id % 2 + 1 AS ch
           FROM documents),
         s AS (SELECT doc_id, i // 40 AS win,
             (doc_id*31 + i*7 + c*13) % 4096 - 2048 AS s
           FROM d, unnest(range(0, nf)) ri(i), unnest([0, 1]) rc(c)
           WHERE c < ch),
         e AS (SELECT doc_id, win, sum(s*s) AS sumsq
           FROM s GROUP BY doc_id, win),
         b AS (SELECT doc_id, win,
             lead(sumsq) OVER (PARTITION BY doc_id ORDER BY win) AS nxt,
             sumsq
           FROM e),
         f AS (SELECT doc_id, CAST(count(*) + 1 AS BIGINT) AS n_windows,
             CAST(coalesce(sum(CASE WHEN nxt > sumsq THEN 1 ELSE 0 END
               << CAST(win AS INT)), 0) AS BIGINT) AS fp
           FROM b WHERE nxt IS NOT NULL AND win < 32 GROUP BY doc_id)
         SELECT doc_id, n_windows, fp,
           min(doc_id) OVER cw AS cluster_id,
           count(*) OVER cw AS cluster_sz
         FROM f WINDOW cw AS (PARTITION BY fp, n_windows)
         ORDER BY doc_id""",

    // Hamming near-dup over the perceptual hashes: same closed-form
    // hash replay as mm_phash_dedup, then the identical 4x16-bit band
    // blocking + bit_count(xor) verify the engine runs.
    "mm_phash_neardup" ->
      """WITH d AS (SELECT doc_id, doc_id % 57 + 8 AS w, doc_id % 41 + 6 AS h
               FROM documents WHERE doc_id % 3 <> 2),
         px AS (SELECT doc_id, w, h, (y*8) // h AS ci, (x*8) // w AS cj,
               299*((doc_id*31 + x*7 + y*13) % 256)
             + 587*((doc_id*31 + x*7 + y*13 + 5) % 256)
             + 114*((doc_id*31 + x*7 + y*13 + 10) % 256) AS gm
           FROM d, unnest(range(0, w)) rx(x), unnest(range(0, h)) ry(y)),
         tot AS (SELECT doc_id, sum(gm) AS s, count(*) AS n
           FROM px GROUP BY doc_id),
         cells AS (SELECT doc_id, ci, cj, sum(gm) AS cs, count(*) AS cc
           FROM px GROUP BY doc_id, ci, cj),
         bits AS (SELECT c.doc_id, ci*8 + cj AS pos,
             CASE WHEN c.cs * t.n > t.s * c.cc THEN 1 ELSE 0 END AS b
           FROM cells c JOIN tot t USING (doc_id)),
         hashes AS (SELECT doc_id,
             CAST(coalesce(sum(CASE WHEN pos >= 32
               THEN b * (CAST(1 AS BIGINT) << (pos - 32)) END), 0)
               AS BIGINT) AS hi,
             CAST(coalesce(sum(CASE WHEN pos < 32
               THEN b * (CAST(1 AS BIGINT) << pos) END), 0)
               AS BIGINT) AS lo
           FROM bits GROUP BY doc_id),
         bandv AS (SELECT doc_id, hi, lo, b,
             CASE b WHEN 0 THEN lo & 65535 WHEN 1 THEN (lo >> 16) & 65535
                    WHEN 2 THEN hi & 65535 ELSE (hi >> 16) & 65535 END AS bv
           FROM hashes, unnest([0, 1, 2, 3]) rb(b)),
         cand AS (SELECT DISTINCT a.doc_id AS d1, o.doc_id AS d2,
             bit_count(xor(a.hi, o.hi)) + bit_count(xor(a.lo, o.lo)) AS hd
           FROM bandv a JOIN bandv o ON a.b = o.b AND a.bv = o.bv
             AND a.doc_id < o.doc_id
           WHERE bit_count(xor(a.hi, o.hi)) + bit_count(xor(a.lo, o.lo)) <= 4),
         sym AS (SELECT d1 AS doc_id, hd FROM cand
                 UNION ALL SELECT d2, hd FROM cand)
         SELECT doc_id, count(*) AS n_near,
           CAST(sum(CASE WHEN hd = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
           CAST(min(hd) AS BIGINT) AS min_hamming
         FROM sym GROUP BY doc_id ORDER BY doc_id""",

    "join_asof" ->
      """WITH s AS (SELECT user_id, epoch_us(ts) AS ts_us,
             max(event_id) AS s_event
           FROM events WHERE event_type = 'signup' GROUP BY 1, 2),
         p AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id
           FROM events WHERE event_type = 'purchase')
         SELECT p.event_id AS p_event, p.user_id, p.ts_us AS p_ts,
           coalesce(s.ts_us, -1) AS s_ts,
           coalesce(s.s_event, -1) AS s_event
         FROM p ASOF LEFT JOIN s
           ON p.user_id = s.user_id AND p.ts_us >= s.ts_us
         ORDER BY p_event""",

    // the spark side of csv_roundtrip goes through a partitioned
    // ;-delimited CSV sink and a mixed-format timestamp re-parse; the
    // oracle aggregates the same slice straight from parquet — matching
    // hashes prove the round-trip lossless
    // recomputed from the ORIGINAL parquet: equality proves the
    // text+gzip round trip was lossless
    "src_gzip_roundtrip" ->
      """SELECT user_id % 16 AS bucket, count(*) AS n,
           CAST(sum(event_id) AS BIGINT) AS sum_event,
           CAST(sum(epoch_us(ts) // 86400000000) AS BIGINT) AS sum_day,
           CAST(sum(epoch_us(ts) % 86400000000) AS BIGINT)
             AS sum_us_of_day,
           CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
             AS sum_cents
         FROM events WHERE event_type = 'view'
         GROUP BY bucket ORDER BY bucket""",

    "csv_roundtrip" ->
      """WITH e AS (SELECT event_id, user_id,
             'L' || CAST(user_id % 8 AS VARCHAR) AS linenumber,
             epoch_us(ts) // 1000000 AS ts_s
           FROM events WHERE event_type = 'click')
         SELECT linenumber, count(*) AS n,
           min(ts_s) AS min_ts_s, max(ts_s) AS max_ts_s,
           CAST(sum(event_id) AS BIGINT) AS sum_event
         FROM e GROUP BY linenumber ORDER BY linenumber""",

    // recomputes csv_dirty_read's tally straight from parquet using the
    // dirtying rule: equal hashes prove clean rows survive byte-exact AND
    // every broken row is detected, classified, and id-recovered
    "csv_dirty_read" ->
      """WITH e AS (SELECT event_id, epoch_us(ts) % 1000000 AS v
           FROM events WHERE event_type = 'click'),
         c AS (SELECT CASE WHEN event_id % 10 = 3 THEN 'short'
                           WHEN event_id % 10 = 7 THEN 'badnum'
                           ELSE 'clean' END AS kind, event_id, v FROM e)
         SELECT kind, count(*) AS n,
           CAST(sum(CASE WHEN kind = 'clean' THEN v ELSE 0 END) AS BIGINT)
             AS sum_v,
           CAST(sum(event_id) AS BIGINT) AS sum_event
         FROM c GROUP BY kind ORDER BY kind""",

    // the spark side of jsonl_roundtrip exports through the native JSONL
    // sink (nested struct, array column, null field) and re-parses under
    // an explicit schema; the oracle computes the same per-source digest
    // straight from parquet — content_md5 chains per-doc text md5s in
    // doc_id order, so one wrong byte anywhere in the round-trip flips it
    // ORC write→read is Spark-side state; the oracle recomputes the same
    // aggregate from the parquet table — equal hashes prove the ORC
    // cycle lost nothing
    "orc_roundtrip" ->
      """SELECT l_returnflag, count(*) AS n,
         round(sum(l_extendedprice), 2) AS sum_price,
         min(l_orderkey) AS min_ok, max(l_orderkey) AS max_ok,
         CAST(sum(l_partkey) AS BIGINT) AS sum_pk
         FROM lineitem WHERE l_quantity > 25
         GROUP BY l_returnflag ORDER BY l_returnflag""",

    // XML write→read is Spark-side state; the oracle recomputes the
    // digest straight from parquet — equal hashes prove nesting, entity
    // escaping (the tag field carries < & >), and numeric text survive
    "src_xml_roundtrip" ->
      """WITH e AS (SELECT event_id, user_id, event_type AS etype,
             'a<b&c>' || CAST(user_id % 8 AS VARCHAR) AS tag,
             CAST(floor(value * 100) AS BIGINT) AS vcents,
             epoch_us(ts) AS ts_us
           FROM events WHERE event_type IN ('purchase', 'signup'))
         SELECT etype, count(*) AS n,
           CAST(sum(event_id) AS BIGINT) AS sum_event,
           CAST(sum(vcents) AS BIGINT) AS sum_cents,
           CAST(sum(ts_us % 1000000000) AS BIGINT) AS sum_ts_res,
           count(DISTINCT user_id) AS n_users,
           count(DISTINCT tag) AS n_tags,
           CAST(sum(length(tag)) AS BIGINT) AS sum_tag_len
         FROM e GROUP BY etype ORDER BY etype""",

    "jsonl_roundtrip" ->
      s"""WITH d AS (SELECT doc_id, text, source,
             $toks AS toks,
             CASE WHEN doc_id % 7 = 0 THEN NULL ELSE lang END AS alt
           FROM documents)
         SELECT source, count(*) AS n,
           CAST(sum(doc_id) AS BIGINT) AS sum_id,
           CAST(sum(coalesce(
             list_aggregate(list_transform(toks, x -> length(x)), 'sum'), 0))
             AS BIGINT) AS sum_tok_len,
           CAST(sum(CASE WHEN alt IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_null_alt,
           md5(string_agg(md5(text), '' ORDER BY doc_id)) AS content_md5
         FROM d GROUP BY source ORDER BY source""",

    // recomputes jsonl_dirty_read's quarantine tally straight from parquet
    // using the dirtying rule (doc_id%10==3 truncated, %10==7 type-broken):
    // equal hashes prove clean rows survive byte-exact and every broken row
    // is detected, classified, and id-recovered
    "jsonl_dirty_read" ->
      """WITH d AS (SELECT doc_id, length(text) AS len,
             CASE WHEN doc_id % 10 = 3 THEN 'truncated'
                  WHEN doc_id % 10 = 7 THEN 'badtype'
                  ELSE 'clean' END AS kind
           FROM documents)
         SELECT kind, count(*) AS n,
           CAST(sum(doc_id) AS BIGINT) AS sum_id,
           CAST(sum(CASE WHEN kind = 'clean' THEN len ELSE 0 END) AS BIGINT)
             AS sum_len
         FROM d GROUP BY kind ORDER BY kind""",

    // src_schema_evolution's merged read buckets pre-evolution rows (gen1,
    // written without `lang`) under a sentinel; the oracle rebuilds the
    // same buckets from the source table
    "src_schema_evolution" ->
      """SELECT CASE WHEN doc_id % 2 = 0 THEN '_pre_evolution' ELSE lang END
             AS lang,
           count(*) AS n, CAST(sum(doc_id) AS BIGINT) AS sum_id
         FROM documents GROUP BY 1 ORDER BY 1""",

    // the native custom-exec twins share their composable siblings' oracles:
    // identical semantics, two physical plans, both under the hash gate
    "join_asof_native" ->
      """WITH s AS (SELECT user_id, epoch_us(ts) AS ts_us,
             max(event_id) AS s_event
           FROM events WHERE event_type = 'signup' GROUP BY 1, 2),
         p AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id
           FROM events WHERE event_type = 'purchase')
         SELECT p.event_id AS p_event, p.user_id, p.ts_us AS p_ts,
           coalesce(s.ts_us, -1) AS s_ts,
           coalesce(s.s_event, -1) AS s_event
         FROM p ASOF LEFT JOIN s
           ON p.user_id = s.user_id AND p.ts_us >= s.ts_us
         ORDER BY p_event""",

    // tolerance variant: same ASOF join, staleness bound applied post-join
    // (DuckDB ASOF has no tolerance clause; the CASE reproduces the
    // exec's "stale build yields nulls → -1" exactly)
    "join_asof_tolerance" ->
      """WITH s AS (SELECT user_id, epoch_us(ts) AS ts_us,
             max(event_id) AS s_event
           FROM events WHERE event_type = 'signup' GROUP BY 1, 2),
         p AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id
           FROM events WHERE event_type = 'purchase')
         SELECT p.event_id AS p_event, p.user_id, p.ts_us AS p_ts,
           CASE WHEN s.ts_us IS NOT NULL AND p.ts_us - s.ts_us <= 3600000000
                THEN s.ts_us ELSE -1 END AS s_ts,
           CASE WHEN s.ts_us IS NOT NULL AND p.ts_us - s.ts_us <= 3600000000
                THEN s.s_event ELSE -1 END AS s_event
         FROM p ASOF LEFT JOIN s
           ON p.user_id = s.user_id AND p.ts_us >= s.ts_us
         ORDER BY p_event""",

    // format-drift report: the mixed feed's format is decidable from the
    // string shape (17 chars = 2-digit year), which is what the Spark
    // side's try_to_timestamp coalesce discovers by actually parsing
    "fn_time_format_stats" ->
      """WITH e AS (SELECT user_id,
             CASE WHEN event_id % 2 = 0
                  THEN strftime(make_timestamp((epoch_us(ts) // 1000000)
                         * 1000000), '%y-%m-%d %H:%M:%S')
                  ELSE strftime(make_timestamp((epoch_us(ts) // 1000000)
                         * 1000000), '%Y-%m-%d %H:%M:%S') END AS t
           FROM events WHERE event_type = 'click')
         SELECT CASE WHEN length(t) = 17 THEN 'yy-MM-dd HH:mm:ss'
                     ELSE 'yyyy-MM-dd HH:mm:ss' END AS fmt,
           count(*) AS n, count(DISTINCT user_id) AS n_users
         FROM e GROUP BY 1 ORDER BY fmt""",

    // batch gaps-and-islands twin of the STREAMING sessionize round-trips
    // (same 30-min gap and numbering as win_sessionize; per-session
    // aggregates are tie-insensitive, so the streaming fold's ts-only
    // sort and this window's (ts, event_id) sort agree). The same SQL
    // gates BOTH stateful-API variants — flatMapGroupsWithState and
    // transformWithState must agree with the batch semantics AND each
    // other.
    "stream_sessionize_sink" -> sessionizeOracleSql,
    "stream_sessionize_tws_sink" -> sessionizeOracleSql,

    // the bucketed write→scan→join pipeline must be byte-lossless, so the
    // oracle is the same join straight off the original parquet
    "src_bucketed_join" ->
      """SELECT o.o_orderpriority, count(*) AS n,
           round(sum(l.l_quantity), 2) AS sum_qty,
           round(sum(l.l_extendedprice), 2) AS sum_price
         FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
         GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority""",

    // batch twin of the STREAMING interval-join round-trip: same ±10 min
    // window as join_interval_native but inner (raw pairs, no grouping) —
    // the streaming job emits exactly the in-window click×error pairs
    "stream_interval_join_sink" ->
      """WITH c AS (SELECT user_id, event_id AS click_id, epoch_us(ts) AS ts_us
           FROM events WHERE event_type = 'click'),
         e AS (SELECT user_id, event_id AS err_id, epoch_us(ts) AS ts_us
           FROM events WHERE event_type = 'error')
         SELECT c.click_id, c.user_id, e.err_id, e.ts_us - c.ts_us AS dt_us
         FROM c JOIN e ON c.user_id = e.user_id
           AND e.ts_us BETWEEN c.ts_us - 600000000 AND c.ts_us + 600000000
         ORDER BY c.click_id, e.err_id""",

    // batch twin of the STREAMING left-outer interval join: same window
    // as stream_interval_join_sink but LEFT — unmatched clicks keep a
    // row, nulls coalesced to sentinels on both sides (the
    // join_left_outer convention; dt_us for a real pair is bounded by
    // ±600000000, so matched and coalesced rows can't collide given
    // err_id disambiguates)
    "stream_interval_outer_sink" ->
      """WITH c AS (SELECT user_id, event_id AS click_id, epoch_us(ts) AS ts_us
           FROM events WHERE event_type = 'click'),
         e AS (SELECT user_id, event_id AS err_id, epoch_us(ts) AS ts_us
           FROM events WHERE event_type = 'error')
         SELECT c.click_id, c.user_id, coalesce(e.err_id, -1) AS err_id,
           coalesce(e.ts_us - c.ts_us, 0) AS dt_us
         FROM c LEFT JOIN e ON c.user_id = e.user_id
           AND e.ts_us BETWEEN c.ts_us - 600000000 AND c.ts_us + 600000000
         ORDER BY c.click_id, err_id""",

    // stream-static enrichment = plain join against the per-user rollup
    "stream_enrich_sink" ->
      """WITH d AS (SELECT user_id, count(*) AS n_user_events,
             min(epoch_us(ts)) AS first_ts
           FROM events GROUP BY 1)
         SELECT e.event_id, e.user_id, d.n_user_events, d.first_ts
         FROM events e JOIN d USING (user_id) ORDER BY e.event_id""",

    // the STREAMING as-of must reproduce the batch ASOF LEFT JOIN
    // exactly (same shape and oracle as join_asof_native)
    "stream_asof_sink" ->
      """WITH s AS (SELECT user_id, epoch_us(ts) AS ts_us,
             max(event_id) AS s_event
           FROM events WHERE event_type = 'signup' GROUP BY 1, 2),
         p AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id
           FROM events WHERE event_type = 'purchase')
         SELECT p.event_id AS p_event, p.user_id, p.ts_us AS p_ts,
           coalesce(s.ts_us, -1) AS s_ts,
           coalesce(s.s_event, -1) AS s_event
         FROM p ASOF LEFT JOIN s
           ON p.user_id = s.user_id AND p.ts_us >= s.ts_us
         ORDER BY p_event""",

    // batch twin of the streaming CDC materialization: last row per key
    // by (ts, event_id) version; keys whose last op is a delete
    // (purchase) are absent; n_ops counts the key's full changelog
    "stream_cdc_sink" ->
      """WITH ev AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id, value,
             CASE WHEN event_type = 'purchase' THEN 'd' ELSE 'u' END AS op
           FROM events),
         l AS (SELECT *, row_number() OVER (PARTITION BY user_id
             ORDER BY ts_us DESC, event_id DESC) AS rk FROM ev),
         n AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_ops
           FROM ev GROUP BY user_id)
         SELECT l.user_id, l.ts_us AS last_ts_us,
           l.event_id AS last_event_id, l.value AS last_value, n.n_ops
         FROM l JOIN n USING (user_id) WHERE l.rk = 1 AND l.op = 'u'
         ORDER BY l.user_id""",

    // batch twin of the streaming geofence detector: the same ray cast
    // as geo_geofence_count, lag(inside) per (user, fence), one row per
    // membership flip (first ping per user establishes the baseline)
    "stream_geofence_sink" -> geofenceSinkSql,
    // the streaming EWMA is pinned to the BATCH operator's oracle
    "stream_ewma_sink" -> WarehouseOracle.tsEwmaSql,
    "stream_geofence_tws_sink" -> geofenceSinkSql,

    // batch replay of the streaming CUSUM: the prefix identity
    // S_i = P_i - min(0, min P_j) per user with the pinned k = 6000,
    // h = 30000 constants (graft.queries.Ext.CusumK/CusumH)
    "stream_cusum_sink" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id,
             CAST(floor(value * 100) AS BIGINT) AS cents
           FROM events),
         p AS (SELECT user_id, ts_us, event_id, cents,
             CAST(sum(cents - 6000) OVER w AS BIGINT) AS pfx
           FROM e WINDOW w AS (PARTITION BY user_id
             ORDER BY ts_us, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         q AS (SELECT *, CAST(min(pfx) OVER w AS BIGINT) AS minpfx
           FROM p WINDOW w AS (PARTITION BY user_id
             ORDER BY ts_us, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         SELECT user_id, ts_us, event_id, cents,
           CAST(pfx - least(0, minpfx) AS BIGINT) AS cusum,
           pfx - least(0, minpfx) > 30000 AS alarm
         FROM q ORDER BY user_id, ts_us, event_id""",


    // the doubled feed deduped on the unique event_id = the original feed
    "stream_dedup_sink" ->
      """SELECT user_id, epoch_us(ts) AS ts_us, event_id
         FROM events ORDER BY event_id""",

    // batch twin of the STREAMING tumbling-window round-trip: Spark's
    // window("1 hour") aligns tumbles to the unix epoch, which is exactly
    // integer division of the µs timestamp by the window length
    "stream_tumbling_sink" ->
      """SELECT user_id,
           (epoch_us(ts) // 3600000000) * 3600000000 AS window_start_us,
           count(*) AS n_events,
           round(sum(CAST(event_id AS DOUBLE)), 2) AS value_sum
         FROM events GROUP BY 1, 2 ORDER BY user_id, window_start_us""",

    // batch twin of the streaming OHLC candles: the ts_ohlc selection
    // keyed on the window start instead of the hour index
    "stream_ohlc_sink" ->
      """WITH e AS (SELECT event_type,
             (epoch_us(ts) // 3600000000) * 3600000000 AS window_start_us,
             epoch_us(ts) AS ts_us, event_id, value,
             CAST(round(value * 100) AS BIGINT) AS cents FROM events),
         r AS (SELECT *, row_number() OVER w AS rn,
             count(*) OVER (PARTITION BY event_type, window_start_us) AS nn
           FROM e
           WINDOW w AS (PARTITION BY event_type, window_start_us
             ORDER BY ts_us, event_id))
         SELECT event_type, window_start_us,
           max(CASE WHEN rn = 1 THEN value END) AS open,
           max(value) AS high, min(value) AS low,
           max(CASE WHEN rn = nn THEN value END) AS close,
           count(*) AS n, CAST(sum(cents) AS BIGINT) AS volume_cents
         FROM r GROUP BY event_type, window_start_us
         ORDER BY event_type, window_start_us""",

    // batch twin of the landed-then-ranked streaming leaderboard: exact
    // per-hour type counts, top-3 by (count desc, type)
    "stream_topk_sink" ->
      """WITH c AS (SELECT
           (epoch_us(ts) // 3600000000) * 3600000000 AS window_start_us,
           event_type, count(*) AS n_events
           FROM events GROUP BY 1, 2),
         r AS (SELECT *, CAST(row_number() OVER (
             PARTITION BY window_start_us
             ORDER BY n_events DESC, event_type) AS BIGINT) AS "rank"
           FROM c)
         SELECT window_start_us, "rank", event_type, n_events FROM r
         WHERE "rank" <= 3 ORDER BY window_start_us, "rank"""",

    "join_interval_native" ->
      """WITH c AS (SELECT user_id, event_id AS click_id, epoch_us(ts) AS ts_us
           FROM events WHERE event_type = 'click'),
         e AS (SELECT user_id, event_id AS err_id, epoch_us(ts) AS ts_us
           FROM events WHERE event_type = 'error')
         SELECT c.click_id, c.user_id, count(e.err_id) AS n_near_errors
         FROM c LEFT JOIN e ON c.user_id = e.user_id
           AND e.ts_us BETWEEN c.ts_us - 600000000 AND c.ts_us + 600000000
         GROUP BY c.click_id, c.user_id ORDER BY c.click_id""",

    "agg_topk_typed" ->
      """SELECT l_returnflag, "rank", l_orderkey, l_linenumber,
           round(price, 2) AS price
         FROM (
           SELECT l_returnflag, l_orderkey,
             CAST(l_linenumber AS BIGINT) AS l_linenumber,
             l_extendedprice AS price,
             row_number() OVER (PARTITION BY l_returnflag
               ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber)
               AS "rank"
           FROM lineitem)
         WHERE "rank" <= 3 ORDER BY l_returnflag, "rank"""",

    // ANN quality gate (agg_approx pattern): the qid set is
    // SQL-expressible; the recall booleans are computed Spark-side
    // against the exact brute-force ranking and pinned TRUE here
    "sim_ann_recall" ->
      """WITH q AS (SELECT vec_id FROM embeddings WHERE vec_id % 50 = 0
           ORDER BY vec_id LIMIT 200)
         SELECT e.vec_id AS qid, TRUE AS lsh_hit_ok, TRUE AS ivf_hit_ok,
           TRUE AS lsh_avg_ok, TRUE AS ivf_avg_ok
         FROM embeddings e JOIN q ON e.vec_id = q.vec_id
         WHERE e.embedding IS NOT NULL
           AND len(list_filter(e.embedding, x -> x IS NULL)) = 0
         ORDER BY qid""",

    // ANN-shortlist reranker gates (same boolean-pin pattern, same qid
    // set): per-probe overlap vs the published exact rerank computed
    // Spark-side, pinned TRUE here
    "sim_mmr_ann" ->
      """WITH q AS (SELECT vec_id FROM embeddings WHERE vec_id % 50 = 0
           ORDER BY vec_id LIMIT 200)
         SELECT e.vec_id AS qid, TRUE AS mmr_hit_ok, TRUE AS mmr_avg_ok
         FROM embeddings e JOIN q ON e.vec_id = q.vec_id
         WHERE e.embedding IS NOT NULL
           AND len(list_filter(e.embedding, x -> x IS NULL)) = 0
         ORDER BY qid""",

    "sim_hybrid_ann" ->
      """WITH q AS (SELECT vec_id FROM embeddings WHERE vec_id % 50 = 0
           ORDER BY vec_id LIMIT 200)
         SELECT e.vec_id AS qid, TRUE AS hybrid_hit_ok, TRUE AS hybrid_avg_ok
         FROM embeddings e JOIN q ON e.vec_id = q.vec_id
         WHERE e.embedding IS NOT NULL
           AND len(list_filter(e.embedding, x -> x IS NULL)) = 0
         ORDER BY qid""",

    // PQ quality gate (same boolean-pin pattern, same qid set): recall
    // booleans computed Spark-side against the staged exact baseline
    "sim_pq_recall" ->
      """WITH q AS (SELECT vec_id FROM embeddings WHERE vec_id % 50 = 0
           ORDER BY vec_id LIMIT 200)
         SELECT e.vec_id AS qid, TRUE AS pq_hit_ok, TRUE AS pq_avg_ok
         FROM embeddings e JOIN q ON e.vec_id = q.vec_id
         WHERE e.embedding IS NOT NULL
           AND len(list_filter(e.embedding, x -> x IS NULL)) = 0
         ORDER BY qid""",

    // IVF-PQ quality gate (same boolean-pin pattern, same qid set)
    "sim_ivfpq_recall" ->
      """WITH q AS (SELECT vec_id FROM embeddings WHERE vec_id % 50 = 0
           ORDER BY vec_id LIMIT 200)
         SELECT e.vec_id AS qid, TRUE AS ivfpq_hit_ok, TRUE AS ivfpq_avg_ok
         FROM embeddings e JOIN q ON e.vec_id = q.vec_id
         WHERE e.embedding IS NOT NULL
           AND len(list_filter(e.embedding, x -> x IS NULL)) = 0
         ORDER BY qid""",

    // tolerance oracle for the sketch aggregates: the exact counts are
    // portable; the booleans assert each sketch sits within its declared
    // tolerance of the exact answer (computed Spark-side, pinned TRUE
    // here) — see Ext.aggApprox
    "agg_approx" ->
      """SELECT l_returnflag, count(*) AS n,
         count(DISTINCT l_partkey) AS n_parts_exact,
         TRUE AS p95_ok, TRUE AS hll_ok
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    // the Bloom pre-filter is result-invisible (the exact join removes
    // false positives) — the oracle is the plain join
    "join_bloom_semi" ->
      """WITH hot AS (SELECT o_orderkey FROM orders WHERE o_totalprice > 494000.0)
         SELECT l_returnflag, count(*) AS n,
           round(sum(l_extendedprice), 2) AS sum_price,
           CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
         FROM lineitem JOIN hot ON l_orderkey = o_orderkey
         GROUP BY l_returnflag ORDER BY l_returnflag""",

    // the batch funnel (chained conditional minimums) unpivoted to one
    // row per reached stage — the streaming machine must reproduce it
    "stream_funnel_sink" -> funnelSinkSql,
    // same oracle for the transformWithState twin — both APIs route
    // through the one pure funnelStep and must reproduce the batch funnel
    "stream_funnel_tws_sink" -> funnelSinkSql,

    // the oracle is the PLAIN join — equal hashes prove the salting is
    // result-invisible
    "join_salted_skew" ->
      """WITH ev AS (SELECT CASE WHEN event_id % 3 = 0 THEN 0
             ELSE user_id END AS k, event_id, value FROM events),
         dim AS (SELECT k, k % 7 AS grp FROM (SELECT DISTINCT k FROM ev))
         SELECT grp, count(*) AS n,
           CAST(sum(event_id) AS BIGINT) AS sum_eid,
           round(sum(value), 2) AS sum_v
         FROM ev JOIN dim USING (k)
         GROUP BY grp ORDER BY grp""",

    "win_cumulative_distinct" ->
      """WITH ud AS (SELECT DISTINCT user_id,
             epoch_us(ts) // 86400000000 AS day FROM events),
         act AS (SELECT day, count(*) AS n_active FROM ud GROUP BY day),
         fst AS (SELECT user_id, min(day) AS day FROM ud GROUP BY user_id),
         nw AS (SELECT day, count(*) AS n_new FROM fst GROUP BY day)
         SELECT day, n_active, COALESCE(n_new, 0) AS n_new,
           CAST(sum(COALESCE(n_new, 0)) OVER (ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_cum
         FROM act LEFT JOIN nw USING (day)
         ORDER BY day""",

    "skew_salted_agg" ->
      """SELECT l_returnflag, count(*) AS n,
         round(sum(l_quantity), 2) AS sum_qty
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    // full mirror of Balance.plan's first-fit-decreasing packing: the
    // plan is sequential but over the per-KEY aggregate (driver-sized),
    // so a recursive CTE steps one key per iteration carrying the 8 bin
    // loads as a list — same (-cost, key) order, same (sum/8)*1.2
    // capacity, same spill-to-lightest fallback, same dedicated-outlier
    // bins (> 3*mean) numbered before the packed ones. Costs are integer
    // counts: every load-vector add is IEEE-exact in both engines.
    "balance_bins" ->
      """WITH RECURSIVE
         costs AS (SELECT CAST(l_suppkey AS VARCHAR) AS key,
             CAST(count(*) AS DOUBLE) AS cost
           FROM lineitem GROUP BY 1),
         stats AS (SELECT sum(cost) / count(*) AS mean_cost FROM costs),
         flagged AS (SELECT key, cost, cost > 3 * mean_cost AS outlier
           FROM costs, stats),
         outliers AS (SELECT key, cost,
             row_number() OVER (ORDER BY -cost, key) - 1 AS bin
           FROM flagged WHERE outlier),
         base AS (SELECT count(*) AS n_out FROM outliers),
         normal AS (SELECT key, cost,
             row_number() OVER (ORDER BY -cost, key) AS rn
           FROM flagged WHERE NOT outlier),
         cap AS (SELECT (sum(cost) / 8) * 1.2 AS capacity FROM normal),
         pack(rn, key, bin, loads) AS (
           SELECT 0, NULL, NULL,
             [CAST(0 AS DOUBLE), 0, 0, 0, 0, 0, 0, 0]
           UNION ALL
           SELECT n.rn, n.key,
             CAST(coalesce(
               list_min(list_filter(list_transform(p.loads,
                 (x, i) -> CASE WHEN x + n.cost <= c.capacity THEN i END),
                 x -> x IS NOT NULL)),
               list_position(p.loads, list_min(p.loads))) - 1 AS INT),
             list_transform(p.loads, (x, i) -> CASE WHEN i = coalesce(
                 list_min(list_filter(list_transform(p.loads,
                   (x2, i2) -> CASE WHEN x2 + n.cost <= c.capacity
                     THEN i2 END),
                   x2 -> x2 IS NOT NULL)),
                 list_position(p.loads, list_min(p.loads)))
               THEN x + n.cost ELSE x END)
           FROM pack p JOIN normal n ON n.rn = p.rn + 1, cap c),
         assign AS (
           SELECT key, CAST(bin AS BIGINT) + (SELECT n_out FROM base)
             AS bin
           FROM pack WHERE key IS NOT NULL
           UNION ALL SELECT key, bin FROM outliers),
         per AS (SELECT a.bin AS _bin, count(*) AS n_keys,
             CAST(sum(c.cost) AS BIGINT) AS n_rows
           FROM assign a JOIN costs c USING (key) GROUP BY 1)
         SELECT _bin, n_keys, n_rows,
           CAST((max(n_rows) OVER ()) * 1000000 * (count(*) OVER ())
             // (sum(n_rows) OVER ()) AS BIGINT) AS balance_ppm
         FROM per ORDER BY _bin""",

    // Morton bucketing: the fleet synthesis, the quantization, and the
    // three mask-shift spread rounds are written in the engine's exact
    // operation order — integer bit arithmetic + IEEE double steps, so
    // the full per-cell rollup hash-matches with no rounding
    // grid-blocked radius self-join: the decision metric is
    // equirectangular with literal constants — only +,-,*,sqrt, all
    // IEEE-identical across engines, so no tolerance anywhere
    "geo_radius_join" ->
      """WITH p AS (SELECT event_id AS pid,
             CAST(22.0 AS DOUBLE) + (event_id // 100000000) * CAST(0.2 AS DOUBLE)
               + (event_id % 9973) * CAST(0.00001 AS DOUBLE) AS lat,
             CAST(114.0 AS DOUBLE) + ((user_id * 7919) % 9973) * CAST(0.00001 AS DOUBLE) AS lng
           FROM events),
         c AS (SELECT pid, lat, lng,
             CAST(floor(lng / CAST(0.0003 AS DOUBLE)) AS BIGINT) AS ix,
             CAST(floor(lat / CAST(0.0003 AS DOUBLE)) AS BIGINT) AS iy FROM p),
         probes AS (SELECT pid AS id1, lat AS lat1, lng AS lng1,
             ix + dx.x AS ix, iy + dy.y AS iy
           FROM c, (SELECT unnest(range(-1, 2)) AS x) dx,
                   (SELECT unnest(range(-1, 2)) AS y) dy),
         cand AS (SELECT id1, lat1, lng1, b.pid AS id2, b.lat AS lat2,
             b.lng AS lng2
           FROM probes JOIN c b USING (ix, iy) WHERE id1 < b.pid),
         d AS (SELECT id1, id2,
             (lng2 - lng1) * CAST(103218.0 AS DOUBLE) AS dx,
             (lat2 - lat1) * CAST(111320.0 AS DOUBLE) AS dy
           FROM cand)
         SELECT id1, id2, sqrt(dx * dx + dy * dy) AS dist_m
         FROM d WHERE dx * dx + dy * dy <= CAST(625.0 AS DOUBLE)
         ORDER BY id1, id2""",

    // nearest-POI: brute-force argmin at gate scale (the engine's grid
    // blocking is result-invisible — the spec proves block ≡ brute);
    // every literal CAST to DOUBLE (the r7 decimal-literal lesson),
    // argmin total via (d2, sid) ordering in both engines
    "join_nearest_poi" ->
      """WITH p AS (SELECT event_id AS pid,
             CAST(22.0 AS DOUBLE) + (event_id % 9973) * CAST(0.00001 AS DOUBLE) AS lat,
             CAST(114.0 AS DOUBLE) + ((user_id * 7919) % 9973) * CAST(0.00001 AS DOUBLE) AS lng
           FROM events),
         st AS (SELECT CAST(s_suppkey AS BIGINT) AS sid,
             CAST(22.0 AS DOUBLE) + ((s_suppkey * 151) % 997) * CAST(0.0001 AS DOUBLE) AS slat,
             CAST(114.0 AS DOUBLE) + ((s_suppkey * 211) % 997) * CAST(0.0001 AS DOUBLE) AS slng
           FROM supplier),
         d AS (SELECT pid, sid,
             (slng - lng) * CAST(103218.0 AS DOUBLE) AS dx,
             (slat - lat) * CAST(111320.0 AS DOUBLE) AS dy
           FROM p, st)
         SELECT pid, sid AS station_id, sqrt(dx*dx + dy*dy) AS dist_m
         FROM d WHERE dx*dx + dy*dy <= CAST(1000000.0 AS DOUBLE)
         QUALIFY row_number() OVER (PARTITION BY pid
           ORDER BY dx*dx + dy*dy, sid) = 1
         ORDER BY pid""",

    // ray-cast parity mirrors the engine exactly: IEEE +,−,×,÷ only
    // (correctly rounded in both engines), star octagons have no
    // horizontal edges, integer crossing counts sum exactly in any order
    "geo_geofence_count" ->
      """WITH fc AS (SELECT f,
             CAST(114.0 AS DOUBLE) + ((f * 37) % 100) * CAST(0.001 AS DOUBLE)
               + CAST(0.003 AS DOUBLE) AS cx,
             CAST(22.0 AS DOUBLE) + f * CAST(0.015 AS DOUBLE)
               + CAST(0.005 AS DOUBLE) AS cy
           FROM (SELECT unnest(range(0, 6)) AS f)),
         e AS (SELECT f, cx, cy, unnest(range(0, 8)) AS i FROM fc),
         ed AS (SELECT f,
             cx + ([3,1,0,-1,-3,-1,0,1][CAST(i AS INT) + 1])
               * CAST(0.004 AS DOUBLE) AS x1,
             cy + ([0,1,3,1,0,-1,-3,-1][CAST(i AS INT) + 1])
               * CAST(0.004 AS DOUBLE) AS y1,
             cx + ([3,1,0,-1,-3,-1,0,1][CAST((i + 1) % 8 AS INT) + 1])
               * CAST(0.004 AS DOUBLE) AS x2,
             cy + ([0,1,3,1,0,-1,-3,-1][CAST((i + 1) % 8 AS INT) + 1])
               * CAST(0.004 AS DOUBLE) AS y2
           FROM e),
         p AS (SELECT event_id, user_id,
             CAST(114.0 AS DOUBLE) + ((user_id * 7919) % 9973)
               * CAST(0.00001 AS DOUBLE) AS px,
             CAST(22.0 AS DOUBLE) + (event_id % 9973)
               * CAST(0.00001 AS DOUBLE) AS py
           FROM events),
         x AS (SELECT p.event_id, p.user_id, ed.f,
             CASE WHEN (ed.y1 > p.py) != (ed.y2 > p.py)
                   AND p.px < ed.x1 + (p.py - ed.y1) * (ed.x2 - ed.x1)
                     / (ed.y2 - ed.y1)
                  THEN 1 ELSE 0 END AS c
           FROM p, ed),
         inpoly AS (SELECT event_id, user_id, f FROM x
           GROUP BY 1, 2, 3 HAVING sum(c) % 2 = 1)
         SELECT f, CAST(count(*) AS BIGINT) AS n_inside,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
         FROM inpoly GROUP BY f ORDER BY f""",

    // table-driven fences: the oracle regenerates the vertex relation
    // from the same integer formula the engine wrote to parquet (doubles
    // round-trip parquet exactly, so the scratch table is a faithful
    // carrier); edges pair consecutive vertices with wraparound, then
    // the same even-odd parity as geo_geofence_count
    "geo_geofence_table" ->
      """WITH v AS (SELECT f, j,
             CAST(114.0 AS DOUBLE) + ((f * 37) % 100) * CAST(0.001 AS DOUBLE)
               + CAST(0.003 AS DOUBLE)
               + ((f * 31 + j * 17) % 7 - 3) * CAST(0.012 AS DOUBLE) AS vx,
             CAST(22.0 AS DOUBLE) + f * CAST(0.015 AS DOUBLE)
               + CAST(0.005 AS DOUBLE)
               + ((f * 13 + j * 29) % 7 - 3) * CAST(0.012 AS DOUBLE) AS vy
           FROM (SELECT f, unnest(range(0, 3 + (f % 4) * 2)) AS j
             FROM (SELECT unnest(range(0, 6)) AS f))),
         nv AS (SELECT f, count(*) AS n FROM v GROUP BY f),
         ed AS (SELECT a.f, a.vx AS x1, a.vy AS y1, b.vx AS x2, b.vy AS y2
           FROM v a JOIN nv USING (f)
           JOIN v b ON b.f = a.f AND b.j = (a.j + 1) % nv.n),
         p AS (SELECT event_id, user_id,
             CAST(114.0 AS DOUBLE) + ((user_id * 7919) % 9973)
               * CAST(0.00001 AS DOUBLE) AS px,
             CAST(22.0 AS DOUBLE) + (event_id % 9973)
               * CAST(0.00001 AS DOUBLE) AS py
           FROM events),
         x AS (SELECT p.event_id, p.user_id, ed.f,
             CASE WHEN (ed.y1 > p.py) != (ed.y2 > p.py)
                   AND p.px < ed.x1 + (p.py - ed.y1) * (ed.x2 - ed.x1)
                     / (ed.y2 - ed.y1)
                  THEN 1 ELSE 0 END AS c
           FROM p, ed),
         inpoly AS (SELECT event_id, user_id, f FROM x
           GROUP BY 1, 2, 3 HAVING sum(c) % 2 = 1)
         SELECT f, CAST(count(*) AS BIGINT) AS n_inside,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
         FROM inpoly GROUP BY f ORDER BY f""",

    // the oracle windows per (user, fence); the engine windows once per
    // user on a 6-bit mask and explodes after — the lag order
    // (ts, event_id) is fence-independent, so they agree row for row
    "geo_geofence_dwell" ->
      """WITH fc AS (SELECT f,
             CAST(114.0 AS DOUBLE) + ((f * 37) % 100) * CAST(0.001 AS DOUBLE)
               + CAST(0.003 AS DOUBLE) AS cx,
             CAST(22.0 AS DOUBLE) + f * CAST(0.015 AS DOUBLE)
               + CAST(0.005 AS DOUBLE) AS cy
           FROM (SELECT unnest(range(0, 6)) AS f)),
         e AS (SELECT f, cx, cy, unnest(range(0, 8)) AS i FROM fc),
         ed AS (SELECT f,
             cx + ([3,1,0,-1,-3,-1,0,1][CAST(i AS INT) + 1])
               * CAST(0.004 AS DOUBLE) AS x1,
             cy + ([0,1,3,1,0,-1,-3,-1][CAST(i AS INT) + 1])
               * CAST(0.004 AS DOUBLE) AS y1,
             cx + ([3,1,0,-1,-3,-1,0,1][CAST((i + 1) % 8 AS INT) + 1])
               * CAST(0.004 AS DOUBLE) AS x2,
             cy + ([0,1,3,1,0,-1,-3,-1][CAST((i + 1) % 8 AS INT) + 1])
               * CAST(0.004 AS DOUBLE) AS y2
           FROM e),
         p AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us,
             CAST(114.0 AS DOUBLE) + ((user_id * 7919) % 9973)
               * CAST(0.00001 AS DOUBLE) AS px,
             CAST(22.0 AS DOUBLE) + (event_id % 9973)
               * CAST(0.00001 AS DOUBLE) AS py
           FROM events),
         x AS (SELECT p.event_id, p.user_id, p.ts_us, ed.f,
             CASE WHEN (ed.y1 > p.py) != (ed.y2 > p.py)
                   AND p.px < ed.x1 + (p.py - ed.y1) * (ed.x2 - ed.x1)
                     / (ed.y2 - ed.y1)
                  THEN 1 ELSE 0 END AS c
           FROM p, ed),
         ip AS (SELECT event_id, user_id, ts_us, f,
             sum(c) % 2 = 1 AS inside
           FROM x GROUP BY 1, 2, 3, 4),
         lg AS (SELECT user_id, f, ts_us, inside,
             lag(ts_us) OVER w AS pts_us, lag(inside) OVER w AS pinside
           FROM ip
           WINDOW w AS (PARTITION BY user_id, f ORDER BY ts_us, event_id)),
         b AS (SELECT f, user_id,
             inside AND coalesce(pinside, false) AS bth,
             CASE WHEN inside AND coalesce(pinside, false)
                  THEN ts_us - pts_us ELSE 0 END AS d
           FROM lg)
         SELECT f, CAST(sum(d) AS BIGINT) AS dwell_us,
           CAST(count(DISTINCT CASE WHEN bth THEN user_id END) AS BIGINT)
             AS n_dwell_users
         FROM b GROUP BY f ORDER BY f""",

    // graded fuzzy twin: DuckDB's jaro_winkler_similarity is bit-equal
    // to the engine's native expression on ASCII names, and no Winkler
    // boost-threshold variant can cross the 0.93 filter
    "join_fuzzy_jw" ->
      """WITH parts AS (SELECT p_partkey, p_name FROM part),
         ns AS (SELECT p_name, min(p_partkey) AS min_key
           FROM parts GROUP BY p_name),
         probes AS (SELECT DISTINCT
             substr(p_name, 1, 2) || substr(p_name, 4) AS probe_name
           FROM parts WHERE p_partkey % 5 = 0 AND length(p_name) >= 4),
         cand AS (SELECT probe_name, min_key,
             jaro_winkler_similarity(probe_name, p_name) AS jw
           FROM probes JOIN ns
             ON substr(probe_name, 1, 2) = substr(p_name, 1, 2)
           WHERE jaro_winkler_similarity(probe_name, p_name) >= 0.93),
         best AS (SELECT probe_name, min_key AS match_key, jw,
             row_number() OVER (PARTITION BY probe_name
               ORDER BY jw DESC, min_key) AS rn,
             CAST(count(*) OVER (PARTITION BY probe_name) AS BIGINT)
               AS n_cand_names
           FROM cand)
         SELECT probe_name, match_key, jw, n_cand_names
         FROM best WHERE rn = 1 ORDER BY probe_name""",

    // cross-multiplied speed predicate (no division), equirectangular
    // metric: IEEE +,−,×,√ only — hash-exact like geo_radius_join
    "geo_speeding" ->
      """WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us,
             CAST(114.0 AS DOUBLE) + ((user_id * 7919) % 9973)
               * CAST(0.00001 AS DOUBLE) AS lng,
             CAST(22.0 AS DOUBLE) + (event_id % 9973)
               * CAST(0.00001 AS DOUBLE) AS lat
           FROM events),
         lg AS (SELECT user_id, ts_us, lat, lng,
             lag(lat) OVER w AS plat, lag(lng) OVER w AS plng,
             lag(ts_us) OVER w AS pts
           FROM p WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
         seg AS (SELECT user_id,
             sqrt(((lng - plng) * CAST(103218.0 AS DOUBLE))
                 * ((lng - plng) * CAST(103218.0 AS DOUBLE))
               + ((lat - plat) * CAST(111320.0 AS DOUBLE))
                 * ((lat - plat) * CAST(111320.0 AS DOUBLE))) AS dist_m,
             ts_us - pts AS dt_us
           FROM lg WHERE pts IS NOT NULL),
         f AS (SELECT user_id, dist_m,
             dist_m * CAST(1000000.0 AS DOUBLE)
               > CAST(0.01 AS DOUBLE) * CAST(dt_us AS DOUBLE) AS speeding
           FROM seg)
         SELECT user_id, CAST(count(*) AS BIGINT) AS n_segments,
           CAST(sum(CASE WHEN speeding THEN 1 ELSE 0 END) AS BIGINT)
             AS n_speeding,
           max(CASE WHEN speeding THEN dist_m END) AS max_speeding_dist_m
         FROM f GROUP BY user_id HAVING n_speeding > 0
         ORDER BY user_id""",

    // Douglas-Peucker replayed as a recursive CTE: each active segment
    // splits at its quantified-argmax interior point (NOT EXISTS — no
    // aggregate in the recursive term) while cross² > ε²·len²; every
    // segment endpoint ever created IS a kept point. Same IEEE +,−,×
    // on the same integer-derived coordinates as the engine, so every
    // keep/drop decision matches bit-for-bit. All fractional literals
    // CAST to DOUBLE (DuckDB parses bare decimals as DECIMAL).
    "geo_simplify_dp" ->
      """WITH RECURSIVE
         pts AS (SELECT user_id, event_id,
             row_number() OVER (PARTITION BY user_id
               ORDER BY epoch_us(ts), event_id) AS seq
           FROM events),
         xy AS (SELECT user_id, seq, event_id,
             ((seq // 16) * CAST(0.001 AS DOUBLE)
               + (event_id % 5) * CAST(0.000001 AS DOUBLE))
               * CAST(103218.0 AS DOUBLE) AS x,
             (seq * CAST(0.0001 AS DOUBLE)) * CAST(111320.0 AS DOUBLE) AS y
           FROM pts),
         ends AS (SELECT user_id, min(seq) AS s0, max(seq) AS s1
           FROM xy GROUP BY user_id),
         seg(user_id, lo, hi) AS (
           SELECT user_id, s0, s1 FROM ends WHERE s1 > s0 + 1
           UNION ALL
           SELECT g.user_id,
             CASE WHEN c.side = 0 THEN g.lo ELSE p.seq END,
             CASE WHEN c.side = 0 THEN p.seq ELSE g.hi END
           FROM seg g
           JOIN xy a ON a.user_id = g.user_id AND a.seq = g.lo
           JOIN xy b ON b.user_id = g.user_id AND b.seq = g.hi
           JOIN xy p ON p.user_id = g.user_id
             AND p.seq > g.lo AND p.seq < g.hi
           CROSS JOIN (VALUES (0), (1)) AS c(side)
           WHERE ((b.x - a.x) * (p.y - a.y) - (b.y - a.y) * (p.x - a.x))
               * ((b.x - a.x) * (p.y - a.y) - (b.y - a.y) * (p.x - a.x))
               > CAST(25.0 AS DOUBLE)
                 * ((b.x - a.x) * (b.x - a.x) + (b.y - a.y) * (b.y - a.y))
             AND NOT EXISTS (
               SELECT 1 FROM xy q
               WHERE q.user_id = g.user_id
                 AND q.seq > g.lo AND q.seq < g.hi
                 AND (((b.x - a.x) * (q.y - a.y) - (b.y - a.y) * (q.x - a.x))
                      * ((b.x - a.x) * (q.y - a.y) - (b.y - a.y) * (q.x - a.x))
                      > ((b.x - a.x) * (p.y - a.y) - (b.y - a.y) * (p.x - a.x))
                        * ((b.x - a.x) * (p.y - a.y) - (b.y - a.y) * (p.x - a.x))
                   OR (((b.x - a.x) * (q.y - a.y) - (b.y - a.y) * (q.x - a.x))
                       * ((b.x - a.x) * (q.y - a.y) - (b.y - a.y) * (q.x - a.x))
                       = ((b.x - a.x) * (p.y - a.y) - (b.y - a.y) * (p.x - a.x))
                         * ((b.x - a.x) * (p.y - a.y) - (b.y - a.y) * (p.x - a.x))
                     AND q.seq < p.seq)))),
         keptset AS (
           SELECT DISTINCT user_id, seq FROM (
             SELECT user_id, s0 AS seq FROM ends
             UNION ALL SELECT user_id, s1 FROM ends
             UNION ALL SELECT user_id, lo FROM seg
             UNION ALL SELECT user_id, hi FROM seg))
         SELECT k.user_id, k.seq, x.event_id
         FROM keptset k
         JOIN xy x ON x.user_id = k.user_id AND x.seq = k.seq
         ORDER BY k.user_id, k.seq""",

    // stay-point walk replayed as a recursive CTE over a PRECOMPUTED hop
    // table: for every possible anchor, first out-of-range seq (plain
    // aggregates — no aggregate ever enters the recursive term) and the
    // dwell span; the recursion is then a single-reference linear chain
    // per vehicle (anchor -> jump or +1). hop2 is MATERIALIZED — DuckDB
    // otherwise inlines it into the recursive term and re-evaluates the
    // whole quadratic hop build once PER ITERATION. The hop build is
    // O(len²) per trajectory — fine at gate scale (sf0.1 probe ≈ 33 s);
    // the engine's early-exit anchor scan is the linear form (sf1g
    // engine run: 8.7 s)
    "geo_staypoints" ->
      s"""WITH RECURSIVE $staypointCtes
         SELECT user_id, start_seq, end_seq, n_points, dur_us, start_event
         FROM sp ORDER BY user_id, start_seq""",

    // trips = consecutive stay points per vehicle; OD cell is the shared
    // 200 m easting cell the dwell sits in — the same CTE chain as
    // geo_staypoints (one definition, two oracles — they cannot drift)
    "geo_od_matrix" ->
      s"""WITH RECURSIVE $staypointCtes,
         tr AS (SELECT user_id,
             lag((start_seq - 1) // 16) OVER w AS o_cell,
             (start_seq - 1) // 16 AS d_cell
           FROM sp WINDOW w AS (PARTITION BY user_id ORDER BY start_seq))
         SELECT o_cell, d_cell, count(*) AS n_trips,
           count(DISTINCT user_id) AS n_users
         FROM tr WHERE o_cell IS NOT NULL
         GROUP BY o_cell, d_cell ORDER BY o_cell, d_cell""",

    "geo_zorder_layout" ->
      """WITH p AS (SELECT concat('V', user_id) AS id,
           114.0 + (epoch_us(ts) % 86400000000) / 86400000000.0 * 0.2 AS lng,
           22.5 + CAST(user_id % 8 AS DOUBLE) * 0.01 AS lat
           FROM events WHERE event_type = 'click'),
         q AS (SELECT id, lng, lat,
           least(255, greatest(0,
             CAST(floor((lng - 114.0) / 0.2 * 256.0) AS BIGINT))) AS ix,
           least(255, greatest(0,
             CAST(floor((lat - 22.5) / 0.08 * 256.0) AS BIGINT))) AS iy
           FROM p),
         z1 AS (SELECT *, (ix | (ix << 4)) & 3855 AS ax,
           (iy | (iy << 4)) & 3855 AS ay FROM q),
         z2 AS (SELECT *, (ax | (ax << 2)) & 13107 AS bx,
           (ay | (ay << 2)) & 13107 AS by FROM z1),
         z3 AS (SELECT *, ((bx | (bx << 1)) & 21845) |
           (((by | (by << 1)) & 21845) << 1) AS z FROM z2)
         SELECT z, count(*) AS n_pings, count(DISTINCT id) AS n_vehicles,
           min(lng) AS min_lng, max(lng) AS max_lng,
           min(lat) AS min_lat, max(lat) AS max_lat
         FROM z3 GROUP BY z ORDER BY z""",

    // nearest |dt| <= 10min error per click; ties -> earlier error then
    // lower id (the engine's struct-min order)
    "join_asof_nearest" ->
      """WITH c AS (SELECT user_id, event_id AS click_id,
           epoch_us(ts) AS c_ts FROM events WHERE event_type = 'click'),
         e AS (SELECT user_id, event_id AS err_id, epoch_us(ts) AS e_ts
           FROM events WHERE event_type = 'error'),
         m AS (SELECT c.click_id, c.user_id,
             abs(e.e_ts - c.c_ts) AS adt, e.e_ts, e.err_id,
             row_number() OVER (PARTITION BY c.click_id
               ORDER BY abs(e.e_ts - c.c_ts), e.e_ts, e.err_id) AS rk
           FROM c JOIN e ON c.user_id = e.user_id
             AND abs(e.e_ts - c.c_ts) <= 600000000)
         SELECT c.click_id, c.user_id,
           coalesce(m.adt, -1) AS abs_delta_us,
           coalesce(m.err_id, -1) AS nearest_err
         FROM c LEFT JOIN m ON m.click_id = c.click_id AND m.rk = 1
         ORDER BY c.click_id""",

    // per-day share of single-event gap sessions, ppm integer ratio
    "win_session_bounce" ->
      """WITH g AS (
           SELECT user_id, event_id, epoch_us(ts) AS ts_us,
             CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                    OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                  THEN 1 ELSE 0 END AS brk
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
         sess AS (
           SELECT user_id, CAST(sum(brk) OVER (
               PARTITION BY user_id ORDER BY ts_us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS sid, ts_us
           FROM g),
         per AS (SELECT user_id, sid, count(*) AS n_events,
             min(ts_us) AS start_us
           FROM sess GROUP BY user_id, sid),
         byday AS (SELECT start_us // 86400000000 AS day,
             count(*) AS n_sessions,
             CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_bounces
           FROM per GROUP BY 1)
         SELECT day, n_sessions, n_bounces,
           (n_bounces * 1000000) // n_sessions AS bounce_ppm
         FROM byday ORDER BY day""",

    "join_range_bucketed" ->
      """WITH c AS (SELECT user_id, event_id AS click_id, epoch_us(ts) AS ts_us
           FROM events WHERE event_type = 'click'),
         e AS (SELECT user_id, event_id AS err_id, epoch_us(ts) AS ts_us
           FROM events WHERE event_type = 'error')
         SELECT c.click_id, c.user_id, count(e.err_id) AS n_near_errors
         FROM c LEFT JOIN e ON c.user_id = e.user_id
           AND e.ts_us BETWEEN c.ts_us - 600000000 AND c.ts_us + 600000000
         GROUP BY c.click_id, c.user_id ORDER BY c.click_id""",
  )
}
